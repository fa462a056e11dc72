package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{Listings, ListingSql, Load, Transform}
import graft.ops.{Dialect, DuckDialect, Relational, SparkDialect, SqlOps, StagedOp}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY.md §2 (plus the scale extensions) is
  * registered here as a named query over `/root/testdata/sf*`, with an
  * equivalent DuckDB SQL oracle: one [[registry]] row per query, from
  * which [[queries]] and [[oracleSql]] are derived. Column names
  * are aligned between both sides (the driver sorts columns by name
  * before hashing). Money is summed exactly, as integer cents on
  * bigint ([[Relational.sumMoney]]) or in DECIMAL, and cast to double
  * once at the end, so both engines emit bit-identical values.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  // ---- reference-parity ETL pipeline (SURVEY.md §2.1-2.5) ----

  private def transformed(s: SparkSession, d: String): DataFrame =
    Transform.transform(Listings.raw(s, d))

  /** Root of the stage tier. Default: the tmpdir, one subdirectory per
    * JVM ([[ownTmpStageDir]]) — ephemeral, wiped by [[cleanupStages]],
    * the always-correct tier. Setting
    * `SPARK_GRAFT_STAGE_ROOT` (env; the `graft.stage.root` system
    * property wins over it, for in-JVM tests) promotes the tier to a
    * PERSISTENT directory that outlives the JVM: the staged indexes
    * (IVF centroids + sufficient stats, minhash band index, cluster
    * maps, interchange transform) become cross-application artifacts,
    * so tomorrow's run deltas against today's index instead of
    * rebuilding it — the cross-run analogue of the reference's
    * staging+merge load (load.py:30-43), and at 100 TB the difference
    * between an incremental pipeline and a nightly full rebuild.
    * Persistent-root validity is guarded by a per-dataset MANIFEST
    * ([[ensureStageDirValid]]): stages are reused only while the
    * input dataset's file fingerprint matches; any change wipes that
    * dataset's stage dir before the first touch. NOTE for Bench: its
    * cold-state contract (cleanupStages before the run) only wipes
    * the TMP tier — run benchmarks without a persistent root. */
  private def stageRoot: String =
    sys.props.get("graft.stage.root")
      .orElse(sys.env.get("SPARK_GRAFT_STAGE_ROOT"))
      .getOrElse(sys.props("java.io.tmpdir"))
  private def persistentRoot: Boolean =
    stageRoot != sys.props("java.io.tmpdir")
  /** Bench records this in its artifact: a persistent root makes
    * "cold" first-run numbers warm-stage reads, and the artifact must
    * say so rather than let a reader assume the tmp-tier contract. */
  private[graft] def stageRootIsPersistent: Boolean = persistentRoot
  private def stageDir(d: String): String =
    if (persistentRoot) s"$stageRoot/graft_stage/${d.hashCode.toHexString}"
    else s"${ownTmpStageDir.getPath}/${d.hashCode.toHexString}"

  /** The tmp tier, shared by every JVM with this tmpdir. Each JVM keeps
    * its stages in its own subdirectory ([[ownTmpStageDir]]), so
    * neither a build nor a [[cleanupStages]] in one JVM touches another
    * JVM's stages, and a committed dir there was written by this JVM. */
  private def tmpStageRoot: java.io.File =
    new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_stage")

  /** A JVM's subdirectory name on the tmp tier: its pid and start time,
    * so a later process that reuses the pid does not inherit it. */
  private[graft] def jvmStageTag(p: ProcessHandle): String = {
    import scala.jdk.OptionConverters._
    s"jvm-${p.pid}-${p.info.startInstant.toScala.fold(0L)(_.toEpochMilli)}"
  }
  private[graft] lazy val ownTmpStageDir: java.io.File =
    new java.io.File(tmpStageRoot, jvmStageTag(ProcessHandle.current()))

  /** Whether a tmp-tier subdirectory belongs to a live process. */
  private def stageTagAlive(tag: String): Boolean = {
    import scala.jdk.OptionConverters._
    """jvm-(\d+)-\d+""".r.unapplySeq(tag).flatMap(_.head.toLongOption)
      .flatMap(ProcessHandle.of(_).toScala)
      .exists(p => p.isAlive && jvmStageTag(p) == tag)
  }

  /** Once per (JVM, dataset): when the stage root is PERSISTENT,
    * compare the on-disk manifest's input fingerprint
    * ([[Tables.fingerprint]], the same content signal the base-table
    * schema memo keys on) against the dataset's current one — on
    * mismatch (or no manifest) wipe that dataset's stage dir and
    * write a fresh manifest, so a stale index
    * can never serve a changed input across JVMs. The default tmp
    * tier skips this entirely (per-JVM lifetime + cleanupStages
    * already bound staleness there, and Bench's cold-state numbers
    * must not pay a directory walk). */
  private val validatedDatasets = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def ensureStageDirValid(d: String): Unit =
    if (persistentRoot && !validatedDatasets.contains(d))
      validatedDatasets.synchronized {
        if (!validatedDatasets.contains(d)) {
          val dir = new java.io.File(stageDir(d))
          val mf = new java.io.File(dir, "_manifest.json")
          val fp = Tables.fingerprint(d)
          val fresh =
            try mf.exists() && {
              val txt = new String(
                java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
              txt.contains(s""""fingerprint": "$fp"""")
            } catch { case scala.util.control.NonFatal(_) => false }
          if (!fresh) {
            try org.apache.commons.io.FileUtils.deleteDirectory(dir)
            catch { case scala.util.control.NonFatal(_) => () }
            dir.mkdirs()
            java.nio.file.Files.writeString(mf.toPath,
              s"""{"dataset": "${d.replace("\\", "\\\\").replace("\"", "\\\"")}", "fingerprint": "$fp"}""")
          }
          validatedDatasets.add(d)
          ()
        }
      }

  /** Forget every per-JVM memo (stage readers, validated-dataset set)
    * WITHOUT touching disk — what a fresh JVM starts with. The last
    * step of [[cleanupStages]]; specs call it alone to prove that a
    * committed stage is adopted, not rebuilt, on either tier. */
  private[graft] def resetJvmMemos(): Unit = {
    stageReads.synchronized(stageReads.clear())
    validatedDatasets.clear()
  }

  /** The stage store's one primitive: the parquet artifact `name` of
    * dataset `d`, written by `build` only when its dir lacks the
    * `_SUCCESS` marker (which the commit protocol writes only once the
    * job completed), then read through the per-session memo
    * ([[readStage]]). A stage is a deterministic function of (dataset,
    * name), so one rule holds on both tiers: `_SUCCESS` present ⇒
    * adopt, else (re)write. A committed dir on the tmp tier was written
    * by this JVM (its subdirectory is its own, and [[cleanupStages]]
    * deletes it); on a persistent root the per-dataset manifest
    * ([[ensureStageDirValid]]) vouches for it, so a fresh JVM deltas
    * against yesterday's index instead of rebuilding it. A dir removed
    * or left truncated mid-overwrite has no marker and transparently
    * rebuilds; a failed write leaves none either, so it cannot poison
    * later reads. */
  private val stageLock = new Object
  private def stage(s: SparkSession, d: String, name: String)(build: => DataFrame): DataFrame = {
    ensureStageDirValid(d)
    val path = s"${stageDir(d)}/$name"
    stageLock.synchronized {
      if (!new java.io.File(path, "_SUCCESS").exists()) {
        build.write.mode("overwrite").parquet(path)
        // the rewrite replaced the part files under `path`, and a
        // memoized reader pins the old listing: drop it in every session
        dropStageReads(path)
      }
    }
    readStage(s, path)
  }

  /** Transform output materialized once per dataset — the reference's
    * stage-boundary interchange file (SURVEY.md §3: transform writes
    * CSV, load reads it). The merge queries derive both sides from this
    * one scan; without it each side re-plans the whole raw→transform
    * expression tree (three copies in the SCD2 plan), and the codegen
    * compile of those duplicated CASE chains dominated the query. */
  private def transformedStaged(s: SparkSession, d: String): DataFrame =
    stage(s, d, "transformed")(transformed(s, d))

  /** Always-run stage-cache cleanup (the reference's ALL_DONE
    * cleanup_files_task, dags/dags.py:121-134, applied to this
    * engine's interchange artifacts): delete this JVM's tmp-tier
    * subdirectory and those of JVMs that are no longer alive (no memo
    * tracks those), and clear this JVM's memo. A live JVM's
    * subdirectory is never touched, so cleanup is safe while other
    * JVMs share the tmpdir; entries of any other name are left alone
    * too. Delete failures are skip-and-continue, like the
    * reference's. Safe to call between query batches IN THIS JVM: the
    * next staged query transparently rebuilds. Covers the TMP tier
    * only: a persistent stage root ([[stageRoot]]) deliberately
    * survives — its staleness is bounded by the per-dataset manifest
    * check instead — while every in-JVM memo still drops, so the next
    * access re-validates. */
  def cleanupStages(): Unit = stageLock.synchronized {
    val own = ownTmpStageDir.getName
    Option(tmpStageRoot.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName == own || (f.getName.startsWith("jvm-") && !stageTagAlive(f.getName)))
      .foreach { f =>
        try org.apache.commons.io.FileUtils.deleteDirectory(f)
        catch { case scala.util.control.NonFatal(_) => () }
      }
    resetJvmMemos()
  }

  /** Duplicate-cluster map (pairs → components), staged like the
    * other shared derived artifacts: the iterative
    * min-label-propagation loop (multiple shuffle rounds + driver
    * convergence actions) runs once, then q_dedup_cluster and
    * q_dedup_survivors read the parquet result. Plain propagation:
    * near-dup components have tiny diameters, so O(diameter) rounds
    * beat the star alternation's extra joins here;
    * connectedComponentsStar is the equivalence-tested O(log n) path
    * for adversarial (long-chain) graphs, gate-checked separately. */
  private def clustersStaged(s: SparkSession, d: String): DataFrame =
    stage(s, d, "mh_clusters") {
      val pairs = sqlStaged(Seq("documents"), SqlOps.dedupMinhash)(s, d)
      graft.ops.Cluster.connectedComponents(
        pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
    }

  /** "Today's ingest" slice for the incremental-CC demo: ~1/16 of the
    * corpus plays the new-arrivals batch; everything else is the base
    * corpus whose cluster map ([[clustersBaseStaged]]) already exists.
    * The constants are single-sourced in [[SqlOps]] (shared with the
    * delta candidate probe and its equivalence test), so the base-map
    * build (which must EXCLUDE every edge touching a new doc) and the
    * delta path cannot drift. */
  private def isNewDoc(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c % SqlOps.NewDocMod === SqlOps.NewDocRem

  /** Yesterday's cluster map: CC over only the base-corpus candidate
    * pairs, staged. This is the precomputed artifact the
    * incremental update reads — in the daily-ingest story it was
    * written by yesterday's run; prewarmed so q_dedup_cluster_delta's
    * timed cost is the DELTA work (contract + small CC + remap), which
    * is the entire point of the operator. */
  private def clustersBaseStaged(s: SparkSession, d: String): DataFrame =
    stage(s, d, "mh_clusters_base") {
      val pairs = sqlStaged(Seq("documents"), SqlOps.dedupMinhash)(s, d)
      graft.ops.Cluster.connectedComponents(
        pairs.filter(!isNewDoc(col("doc_a")) && !isNewDoc(col("doc_b")))
          .select(col("doc_a").as("a"), col("doc_b").as("b")))
    }

  /** Cleaned-corpus manifest from a cluster map: one representative
    * per duplicate cluster (its minimum id) plus every unclustered
    * doc. Shared by the full-rebuild and incremental survivor queries
    * so the release rule cannot drift between them. The `documents`
    * view is (re-)registered here, not only inside the stage-build
    * cache-miss path: with a warm per-JVM stage cache a fresh
    * SparkSession would otherwise have no view for the corpus CTE. */
  private def survivorsFrom(clusters: DataFrame, s: SparkSession, d: String): DataFrame = {
    graft.Tables(s, d, "documents").createOrReplaceTempView("documents")
    val corpus = s.sql(
      s"WITH ${SqlOps.corpusCte(SparkDialect)} SELECT doc_id FROM corpus")
    corpus.join(clusters, Seq("doc_id"), "left_outer")
      .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .select(col("doc_id"))
  }

  /** The delta-updated cluster map, staged — TWO
    * consumers read it (q_dedup_cluster_delta and
    * q_dedup_survivors_delta), so it follows the [[clustersStaged]]
    * pattern: NOT prewarmed (the incremental update IS
    * q_dedup_cluster_delta's computation — the first consumer builds
    * it timed, the second reads the parquet). */
  private def clustersDeltaStaged(s: SparkSession, d: String): DataFrame =
    stage(s, d, "mh_clusters_delta") {
      val delta = sqlStaged(Seq("documents"), SqlOps.dedupMinhashDelta)(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      graft.ops.Cluster.incrementalUpdate(clustersBaseStaged(s, d), delta)
    }

  /** q_pca_deflate's execution path: stage the deflated matrix
    * ([[SqlOps.pcaDeflatePrep]]), run the power-iteration rounds
    * DRIVER-SIDE (graft.ops.PcaLoop — one fused matvec+rescale+vecmat
    * action per round since r15, dim-bounded 64-row collects), and
    * stage only the 64-row result.
    * This replaces six per-round parquet stages whose ONLY consumer
    * was this query — each was a full job + parquet roundtrip forced
    * by the rescale's double reference under CTE inlining. The oracle
    * still runs the staged-CTE SQL rendering (pcaDeflate.single), so
    * every Verify run proves the loop equal to the relational form;
    * MicroOracleSpec additionally pins loop == staged Spark SQL ==
    * an independent Scala replay. */
  private def pcaDeflateStaged(s: SparkSession, d: String): DataFrame =
    stage(s, d, "pcb_out") {
      // NEGATIVE RESULT (r15): caching pcb_cv (persist + temp view)
      // instead of the parquet stage was tried and MEASURED SLOWER —
      // per-round matvec 0.76 → 0.95 s, first run 3.5 → 4.2 s quiet at
      // sf0.1: the loop's six matrix scans run in the ISOLATED child
      // session through a global-temp view, and the cached-relation
      // read path there loses to a plain columnar parquet scan. The
      // matrix stays a parquet stage (the r14 call was right).
      buildStages(Seq("embeddings"), SqlOps.pcaDeflatePrep)(s, d)
      graft.ops.PcaLoop.deflateComponent2(s).coalesce(1)
    }

  /** q_pca_power_iter's execution path — the [[pcaDeflateStaged]]
    * treatment for the FIRST component: the canonical pca_* chain is
    * prewarmed (three consumers), and the iteration this query TIMES
    * re-runs DRIVER-SIDE over the same staged matrix (identical
    * integer arithmetic; the pcaPowerTimed alias-chain oracle is
    * unchanged and proves equality every Verify run) instead of
    * materializing seven pci_* parquet alias stages per JVM purely
    * for first-consumer billing. */
  private def pcaPowerStaged(s: SparkSession, d: String): DataFrame =
    stage(s, d, "pci_out") {
      buildStages(Seq("embeddings"), SqlOps.pcaPower)(s, d)
      graft.ops.PcaLoop.powerComponent1(s).coalesce(1)
    }

  /** Two-snapshot media corpus -> (doc_id, phash) via the batched
    * aHash pass, staged (r14): TWO
    * consumers (q_image_phash, q_dedup_phash_near), and the hash pass
    * is a typed mapPartitions decode (opaque to Catalyst — no reuse,
    * no pruning), so the near-dup band SELF-join over the unstaged
    * view re-ran the whole decode+hash on BOTH join sides every run
    * (steady 1.3 s, first 6.1 s at sf0.1). The mh_sig rule: a shared
    * signature index is materialized once and every consumer scans
    * the columnar artifact. OWNER-BILLED to q_image_phash (r15), not
    * prewarmed: the decode IS that query's computation (its body is
    * only a window-count over the hashes), so the ewma_f doctrine
    * applies — one timed cell carries the build. */
  private def mediaPhashStaged(s: SparkSession, d: String): DataFrame =
    stage(s, d, "media_phash") {
      graft.Tables(s, d, "documents").createOrReplaceTempView("documents")
      val corpus = s.sql(
        s"WITH ${SqlOps.corpusCte(SparkDialect)} SELECT doc_id, text FROM corpus")
      graft.ops.Multimodal.aHash(graft.ops.Multimodal.asMedia(corpus)).toDF()
    }

  private def mergeMain(t: DataFrame): DataFrame =
    t.filter(col("ingest_order") % 2 === 0)

  private def mergeStaging(t: DataFrame): DataFrame =
    t.filter(col("ingest_order") % 3 === 0)
      .withColumn("price_rp", col("price_rp") + 1000000L)

  /** SCD2 history of the staged transform: main's rows open at ts 0,
    * staging is merged in as the batch at ts 100. */
  private def scd2History(s: SparkSession, d: String): DataFrame = {
    val t = transformedStaged(s, d)
    val main = mergeMain(t)
      .select(col("link"), col("name"), col("price_rp"))
      .withColumn("valid_from", lit(0L))
      .withColumn("valid_to", lit(null).cast("bigint"))
    val staging = mergeStaging(t).select(col("link"), col("name"), col("price_rp"))
    Load.scd2Merge(main, staging, "link", batchTs = 100L)
  }

  /** Deterministic md5-half slice of `documents` standing in for "one
    * ingest batch" in q_dataset_card_delta — ONE string rendered into
    * both engines' SQL, so the Spark query and the DuckDB oracle see
    * the identical subset (an md5 half, not doc_id parity: source is
    * a function of doc_id mod in this fixture, and a parity slice
    * would alias with it). */
  private val CardDeltaSlice: String =
    s"(SELECT doc_id, text FROM documents WHERE ${SqlOps.md5Bucket("CAST(doc_id AS STRING) || ':cardslice'")} % 2 = 0) cds"

  /** Dual-dialect op: register the needed tables as temp views, run the
    * Spark rendering of the shared SQL (spark.sql → same Catalyst
    * pipeline as the DataFrame API). */
  private def sqlq(views: Seq[String], build: Dialect => String): (SparkSession, String) => DataFrame =
    (s, d) => {
      graft.functions.GraftFunctions.registerAll(s)
      views.foreach(v => graft.Tables(s, d, v).createOrReplaceTempView(v))
      s.sql(build(SparkDialect))
    }

  /** Staged dual-dialect op: materialize each stage to parquet before
    * the body. Spark inlines CTEs, so a self-joined CTE would recompute
    * its whole subtree per reference (DuckDB materializes CTEs
    * natively); writing the index once and scanning the (tiny,
    * columnar) result from every reference is also exactly what a
    * production pipeline does with a signature/shingle index at scale. */
  private def sqlStaged(views: Seq[String], op: StagedOp): (SparkSession, String) => DataFrame =
    (s, d) => {
      buildStages(views, op)(s, d)
      s.sql(op.body(SparkDialect))
    }

  /** Per-(session, path) memo of the stage-reading DataFrames:
    * `spark.read.parquet` lists the directory and reads a footer for
    * the schema EVERY call, and a staged query re-registers each of
    * its stages on every run — a 25-stage op was paying ~1 s of
    * repeated footer/listing reads per WARM run. The memoized frame
    * pins the FileIndex (read.parquet captures the listing eagerly),
    * which is exactly why [[stage]] drops the path's entries
    * whenever it (re)writes and [[cleanupStages]] clears the map —
    * a memo may only outlive the part files it lists if nothing
    * rewrote them. Base tables take the other trade ([[Tables.read]]):
    * they memoize only the inferred schema, keyed on the files'
    * content fingerprint, and re-list on every read — right for ten
    * tables registered once per query, wrong for a many-stage query
    * whose every stage read would pay a listing. */
  // WeakHashMap alone would NOT reclaim stopped sessions here: the
  // memoized DataFrame values strongly reference their own session
  // key (Dataset -> QueryExecution -> SparkSession), which per the
  // WeakHashMap contract pins the entry forever. purgeStopped below
  // is the actual collector: a stopped session can never serve
  // another read, so every access drops entries whose SparkContext
  // is stopped — multi-session test suites no longer accumulate
  // dead sessions plus their FileIndex listings
  private val stageReads =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.HashMap[String, DataFrame]]()
  private def purgeStoppedLocked(): Unit = {
    val it = stageReads.keySet.iterator
    while (it.hasNext) {
      val k = it.next()
      if (k != null && k.sparkContext.isStopped) it.remove()
    }
  }
  private def readStage(s: SparkSession, path: String): DataFrame =
    stageReads.synchronized {
      purgeStoppedLocked()
      var m = stageReads.get(s)
      if (m == null) { m = scala.collection.mutable.HashMap.empty; stageReads.put(s, m) }
      m.getOrElseUpdate(path, s.read.parquet(path))
    }
  private def dropStageReads(path: String): Unit =
    stageReads.synchronized {
      stageReads.values.forEach(m => { m.remove(path); () })
    }

  /** Materialize (or adopt, when already committed) every stage of
    * `op` and register it as a parquet-backed temp view. Each stage is
    * a deterministic function of (dataset, stage name), so a shared
    * index (emb_nv is read by four similarity queries, mh_sig by
    * minhash and clustering) is written once and reused — exactly how
    * a production pipeline treats a signature/shingle index. */
  private def buildStages(views: Seq[String], op: StagedOp): (SparkSession, String) => Unit =
    (s, d) => {
      graft.functions.GraftFunctions.registerAll(s)
      views.foreach(v => graft.Tables(s, d, v).createOrReplaceTempView(v))
      op.stages.foreach { case (name, build) =>
        stage(s, d, name)(s.sql(build(SparkDialect))).createOrReplaceTempView(name)
      }
    }

  /** Build every shared staged artifact without running any query
    * body. Bench calls this from its untimed warmup so a shared stage's
    * build stops landing on whichever timed query happens to touch it
    * first. The set is read off [[registry]]: the op of every [[Staged]]
    * row marked `prewarm`, plus the five builds below, which are no
    * row's op as is. */
  def prewarmStages(s: SparkSession, d: String): Unit = {
    // the merge family's interchange file; its consumers are Frame rows
    transformedStaged(s, d)
    // yesterday's base cluster map (NOT the full map, whose build IS
    // q_dedup_cluster's computation): the incremental-CC query's
    // precomputed input, never its computation
    clustersBaseStaged(s, d)
    Seq(
      // the canonical pca_* chain has three consumers (q_pca_power_iter,
      // q_pca_project, q_pca_deflate); q_pca_power_iter times the
      // iteration itself in a driver-side rerun over the same matrix
      Seq("embeddings") -> SqlOps.pcaPower,
      // the ULM trainer substrate (vocab, substring pieces, mask
      // enumeration), read by all six ulm_* queries, whose own trainer
      // chains stay timed
      Seq("documents") -> SqlOps.ulmBase,
      // the canonical prune chain, read by q_ulm_prune's readout and
      // q_ulm_drift's final vocabulary; q_ulm_prune times the iteration
      // under ulm_tp* alias stages
      Seq("documents") -> SqlOps.ulmPrune64
    ).foreach { case (views, op) => buildStages(views, op)(s, d) }
    registry.toSeq.sortBy(_._1).foreach {
      case (_, q: Staged) if q.prewarm => buildStages(q.views, q.op)(s, d)
      case _ => ()
    }
  }

  /** The rows marked [[Query.owner]], in name order: Bench times these
    * before its alphabetical sweep. */
  lazy val stageOwners: Seq[String] =
    registry.collect { case (n, q) if q.owner => n }.toSeq.sorted

  // ---- the query registry ----

  /** One registered query: how the engine runs it, and the DuckDB SQL
    * its result is hash-checked against. [[Sql]] and [[Staged]] rows
    * derive the oracle from the dual-dialect op the engine renders;
    * a [[Frame]] row carries its hand-written oracle next to the code
    * it checks. */
  private[graft] sealed trait Query {
    def run: (SparkSession, String) => DataFrame
    def oracle: String
    /** Stage owner: this query's first run builds a shared stage that
      * is deliberately not prewarmed, because the build IS its
      * computation (the cluster map's iterative CC is
      * q_dedup_cluster's). Bench times owners before its alphabetical
      * sweep, so the build bills to the owner, not to whichever
      * consumer happens to sort first (q_cluster_source_entropy
      * carried the CC build in r9's artifact purely because "c" < "d"). */
    def owner: Boolean = false
    /** Degeneracy flags ([[Verify.degeneracy]]) this query may carry at
      * the oracle SFs without failing Verify's gate; each row's comment
      * says why the flagged shape is the correct fixture answer. A
      * metric column that is all-NULL/all-zero at every SF without such
      * a reason is the q_ab_test vacuity (oracle-green for 8 rounds,
      * saying nothing). Entries are whole flag strings
      * (`all_null:<col>`, `all_zero:<col>`, `all_constant`), matched
      * exactly, so an `all_zero` excuse never covers a later `all_null`
      * regression of the same column.
      *
      * Standing rule: an honest zero/NULL is excused ONLY when the
      * positive path is exercised somewhere a reader can check — a
      * planted-fixture micro test, a sibling non-zero column in the
      * same readout, or (SF-edge excuses) a sibling SF where the
      * column is live, which AllowDegenerateSpec runs. The r13 audit's
      * first sweep also produced two real catches, fixed instead of
      * excused: q_ann_eval's single-band recall was the ONLY metric and
      * 0 at every SF (now paired with the 8-band union columns), and
      * q_dedup_levenshtein / q_fd_audit had no planted-positive test
      * (MicroOracleSpec now plants 1..5 distances and a holding FD). */
    def excuses: Set[String] = Set.empty
    /** Where this query shows on Bench's compact final line. */
    def bench: BenchMark = BenchMark.Off
  }

  /** Bench's compact final line must survive a log capture that keeps
    * only the last ~2000 chars (BENCH_r01-r03 came back `parsed: null`
    * while it carried every query), so it shows a marked subset; every
    * query's first and steady times stay in bench_full.json.
    * [[BenchMark.Headline]] rows show their first run: one per operator
    * family plus the historically slowest. [[BenchMark.Steady]] rows
    * also show their steady run: the ones whose first-vs-steady split
    * matters (iterative builds, megaplan codegen, staged-chain
    * billing). Steady implies headline. */
  private[graft] sealed abstract class BenchMark(val headline: Boolean, val steady: Boolean)
  private[graft] object BenchMark {
    case object Off extends BenchMark(false, false)
    case object Headline extends BenchMark(true, false)
    case object Steady extends BenchMark(true, true)
  }

  /** Runs through [[sqlq]]; the oracle is `op(DuckDialect)`. */
  private[graft] final case class Sql(views: Seq[String], op: Dialect => String,
      override val excuses: Set[String] = Set.empty,
      override val bench: BenchMark = BenchMark.Off) extends Query {
    def run: (SparkSession, String) => DataFrame = sqlq(views, op)
    def oracle: String = op(DuckDialect)
  }

  /** Runs through [[sqlStaged]]; the oracle is `op.single(DuckDialect)`,
    * or `checkedBy`'s when an independent form is the ground truth the
    * op must reproduce. `prewarm` marks the op's stages as shared
    * substrate (indexes and derived tables that other queries read too)
    * that [[prewarmStages]] builds untimed, so timed numbers measure
    * the query body, never a cold stage write. A row whose stage build
    * IS the query (the k-core and truss peels, the unrolled PageRank
    * and label-propagation rounds) stays unmarked; its shared input,
    * such as mh_cand, is prewarmed through another row. */
  private[graft] final case class Staged(views: Seq[String], op: StagedOp,
      prewarm: Boolean = false, override val owner: Boolean = false,
      checkedBy: Option[StagedOp] = None,
      override val excuses: Set[String] = Set.empty,
      override val bench: BenchMark = BenchMark.Off) extends Query {
    def run: (SparkSession, String) => DataFrame = sqlStaged(views, op)
    def oracle: String = checkedBy.getOrElse(op).single(DuckDialect)
  }

  /** DataFrame code or a custom lambda, or an op checked against an
    * independent form. The oracle is by-name, so building [[queries]]
    * renders no DuckDB SQL. */
  private[graft] final class Frame(val run: (SparkSession, String) => DataFrame, sql: => String,
      override val owner: Boolean, override val excuses: Set[String],
      override val bench: BenchMark) extends Query {
    def oracle: String = sql
  }
  private object Frame {
    def apply(run: (SparkSession, String) => DataFrame, oracle: => String,
              owner: Boolean = false, excuses: Set[String] = Set.empty,
              bench: BenchMark = BenchMark.Off): Frame =
      new Frame(run, oracle, owner, excuses, bench)
  }

  /** name → the engine's builder for that query, derived from [[registry]]. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, q) => n -> q.run }

  /** name → the DuckDB SQL that query is checked against, derived from
    * [[registry]]. */
  lazy val oracleSql: Map[String, String] =
    registry.map { case (n, q) => n -> q.oracle }

  // ---- DuckDB oracle fragments shared by several rows ----

  private lazy val T = ListingSql.TRANSFORMED_CTE
  private lazy val MERGE_CTES: String =
    s"""WITH $T,
       |main AS (SELECT * FROM transformed WHERE ingest_order % 2 = 0),
       |staging AS (
       |  SELECT ingest_order, link, name, price_rp + 1000000 AS price_rp, location,
       |         lot_size, building_size, n_bedroom, n_bathroom, n_carport,
       |         additional_features, ads_type, property_type
       |  FROM transformed WHERE ingest_order % 3 = 0
       |)""".stripMargin

  /** Shared SCD2-merge oracle body ([[Load.scd2Merge]]'s relational
    * twin) — reused by the merge query itself and the point-in-time
    * read, so the two cannot drift. */
  private lazy val SCD2_SQL: String =
    s"""$MERGE_CTES,
       |m AS (SELECT link, name, price_rp, CAST(0 AS BIGINT) AS valid_from FROM main),
       |st AS (SELECT link, name, price_rp FROM staging),
       |j AS (
       |  SELECT m.link AS olink, m.name AS oname, m.price_rp AS oprice, m.valid_from,
       |         st.link AS slink, st.name AS sname, st.price_rp AS sprice
       |  FROM m FULL JOIN st ON m.link = st.link
       |),
       |same AS (
       |  SELECT *, (oname IS NOT DISTINCT FROM sname) AND (oprice IS NOT DISTINCT FROM sprice) AS unchanged
       |  FROM j
       |)
       |SELECT olink AS link, oname AS name, oprice AS price_rp, valid_from, CAST(NULL AS BIGINT) AS valid_to
       |FROM same WHERE slink IS NULL OR (olink IS NOT NULL AND unchanged)
       |UNION ALL
       |SELECT olink, oname, oprice, valid_from, CAST(100 AS BIGINT)
       |FROM same WHERE olink IS NOT NULL AND slink IS NOT NULL AND NOT unchanged
       |UNION ALL
       |SELECT slink, sname, sprice, CAST(100 AS BIGINT), CAST(NULL AS BIGINT)
       |FROM same WHERE olink IS NULL OR (slink IS NOT NULL AND NOT unchanged)""".stripMargin

  private val mergeCols = Seq("ingest_order", "link", "name", "price_rp",
    "location", "lot_size", "building_size", "n_bedroom", "n_bathroom",
    "n_carport", "additional_features", "ads_type", "property_type")

  /** Transitive-closure oracle over an arbitrary pair query: DuckDB's
    * recursive CTE computes min-reachable-id components, the ground
    * truth both Spark CC implementations are gate-checked against. */
  private def closureCtes(pairsSql: String, aCol: String, bCol: String,
                          idCol: String): String =
    s"""WITH RECURSIVE pairs AS (
       |$pairsSql
       |),
       |edges AS (
       |  SELECT $aCol AS a, $bCol AS b FROM pairs
       |  UNION ALL
       |  SELECT $bCol AS a, $aCol AS b FROM pairs
       |),
       |reach AS (
       |  SELECT a AS $idCol, a AS lbl FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a AS $idCol, r.lbl FROM edges e JOIN reach r ON r.$idCol = e.b
       |),
       |clusters AS (SELECT $idCol, MIN(lbl) AS cluster_id FROM reach GROUP BY $idCol)""".stripMargin

  /** The pure-SQL re-derivation of the stub byte-grid aHash over the
    * two-snapshot corpus, ending in `ph(doc_id, phash)` — ONE copy
    * shared by both image-hash oracles. */
  private lazy val PHASH_CTES: String =
    s"""WITH ${SqlOps.corpusCte(DuckDialect)},
      |t AS (SELECT doc_id, text,
      |        CASE WHEN octet_length(encode(text)) = length(text)
      |             THEN octet_length(encode(text))
      |             ELSE CAST(error('phash oracle: non-ASCII corpus — ascii(substr(..)) addresses CHARACTERS while the Spark stub hashes UTF-8 BYTES; rewrite this oracle over encode(text) bytes before trusting it') AS BIGINT)
      |        END AS n FROM corpus),
      |pos AS (SELECT doc_id, n, text, unnest(range(0, n)) AS i FROM t WHERE n > 0),
      |by AS (
      |  SELECT doc_id,
      |    LEAST(i // GREATEST(n // 64, 1), 63) AS cell,
      |    ascii(substr(text, CAST(i + 1 AS INT), 1)) AS b
      |  FROM pos
      |),
      |c AS (SELECT doc_id, cell, CAST(SUM(b) AS BIGINT) AS cs,
      |        CAST(COUNT(*) AS BIGINT) AS cc FROM by GROUP BY doc_id, cell),
      |tt AS (SELECT doc_id, CAST(SUM(b) AS BIGINT) AS ts,
      |        CAST(COUNT(*) AS BIGINT) AS tc FROM by GROUP BY doc_id),
      |spine AS (SELECT doc_id, unnest(range(0, 64)) AS cell FROM t),
      |bits AS (
      |  SELECT s.doc_id, s.cell,
      |    CASE WHEN c.cc IS NOT NULL AND c.cs * tt.tc > tt.ts * c.cc
      |         THEN '1' ELSE '0' END AS bit
      |  FROM spine s
      |  LEFT JOIN c ON s.doc_id = c.doc_id AND s.cell = c.cell
      |  LEFT JOIN tt ON s.doc_id = tt.doc_id
      |),
      |ph AS (SELECT doc_id, string_agg(bit, '' ORDER BY cell) AS phash
      |       FROM bits GROUP BY doc_id)""".stripMargin

  private lazy val CLUSTER_CTES: String =
    closureCtes(SqlOps.dedupMinhash.single(DuckDialect), "doc_a", "doc_b", "doc_id")

  private lazy val CLUSTER_ORACLE: String =
    s"""$CLUSTER_CTES
       |SELECT doc_id, cluster_id FROM clusters""".stripMargin

  /** Cleaned-corpus manifest: cluster representatives + unclustered.
    * Corpus single-sourced from [[SqlOps.corpusCte]]. */
  private lazy val SURVIVORS_ORACLE: String =
    s"""$CLUSTER_CTES,
       |${SqlOps.corpusCte(DuckDialect)}
       |SELECT c.doc_id FROM corpus c LEFT JOIN clusters k ON c.doc_id = k.doc_id
       |WHERE k.doc_id IS NULL OR k.cluster_id = c.doc_id""".stripMargin

  /** The plain (unsalted, unhinted) form of the event-type stats join
    * — ONE oracle string for both q_join_salted and
    * q_join_skew_unsalted: the salt must be result-invisible, so both
    * variants must hash-match this same plain join. */
  private lazy val EventSkewJoinSql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(FLOOR(value * 1.0e2 + 5.0e-1) AS BIGINT) AS cents
      |  FROM events
      |),
      |st AS (
      |  SELECT event_type, CAST(SUM(cents) AS BIGINT) AS sk, COUNT(*) AS ck
      |  FROM ev GROUP BY event_type
      |)
      |SELECT e.event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN e.cents * s.ck > s.sk THEN 1 ELSE 0 END) AS BIGINT) AS n_above_mean
      |FROM ev e JOIN st s ON e.event_type = s.event_type
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  /** Every registered query, one row per name: the only place a query
    * name is written, and each query's facts are fields of its row. A
    * `Map(...)` literal keeps the last of two equal keys without error,
    * so a repeated name fails here instead. */
  private[graft] lazy val registry: Map[String, Query] = distinctRows(
    // -- ETL parity --
    "q_raw_listings" -> Frame((s, d) => Listings.raw(s, d).orderBy("ingest_order"),
      s"WITH ${ListingSql.RAW_CTE} SELECT * FROM raw"),
    "q_filter_nullkey" -> Frame(
      (s, d) =>
        Transform.dropNullKeys(Listings.raw(s, d))
          .select(col("ingest_order"), col("link")).orderBy("ingest_order"),
      s"WITH ${ListingSql.RAW_CTE} SELECT ingest_order, link FROM raw WHERE link IS NOT NULL"),
    "q_dedup_first" -> Frame(
      (s, d) =>
        Transform.dedupKeepFirst(Transform.dropNullKeys(Listings.raw(s, d)))
          .select(col("link"), col("ingest_order")).orderBy("ingest_order"),
      s"""WITH $T SELECT link, ingest_order FROM transformed"""),
    "q_transform_listings" -> Frame((s, d) => transformed(s, d).orderBy("ingest_order"),
      s"WITH $T SELECT * FROM transformed"),
    "q_price_parse" -> Frame(
      (s, d) =>
        transformed(s, d).select(col("ingest_order"), col("link"), col("price_rp"))
          .orderBy("ingest_order"),
      s"WITH $T SELECT ingest_order, link, price_rp FROM transformed"),
    "q_badge_tokenize" -> Frame(
      (s, d) =>
        transformed(s, d).select(col("ingest_order"), col("additional_features"))
          .orderBy("ingest_order"),
      s"WITH $T SELECT ingest_order, additional_features FROM transformed"),
    "q_merge_upsert" -> Frame(
      (s, d) => {
        val t = transformedStaged(s, d)
        Load.merge(mergeMain(t), mergeStaging(t), "link").orderBy("link")
      },
      s"""$MERGE_CTES
         |SELECT ${mergeCols.map(c => s"CASE WHEN s.link IS NOT NULL THEN s.$c ELSE m.$c END AS $c").mkString(", ")}
         |FROM main m FULL JOIN staging s ON m.link = s.link""".stripMargin),
    "q_merge_inserted_count" -> Frame(
      (s, d) => {
        val t = transformedStaged(s, d)
        Load.insertedCount(mergeMain(t), mergeStaging(t), "link")
      },
      s"""$MERGE_CTES
         |SELECT COUNT(*) AS n_inserted FROM staging s
         |WHERE NOT EXISTS (SELECT 1 FROM main m WHERE m.link = s.link)""".stripMargin),
    "q_merge_scd2" -> Frame(
      (s, d) => scd2History(s, d).orderBy(col("link"), col("valid_from")), SCD2_SQL,
      bench = BenchMark.Headline),
    // point-in-time reads over the SCD2 result: the pre-batch (ts=50)
    // and post-batch (ts=100) states from ONE history table
    "q_scd2_asof" -> Frame(
      (s, d) => {
        val scd = scd2History(s, d)
        Seq(50L, 100L).map { ts =>
          Load.scd2AsOf(scd, ts)
            .select(lit(ts).as("asof_ts"), col("link"), col("name"), col("price_rp"))
        }.reduce(_.unionByName(_))
      },
      s"""WITH scd AS (SELECT * FROM (
         |$SCD2_SQL
         |))
         |SELECT CAST(50 AS BIGINT) AS asof_ts, link, name, price_rp FROM scd
         |WHERE valid_from <= 50 AND (valid_to IS NULL OR valid_to > 50)
         |UNION ALL
         |SELECT CAST(100 AS BIGINT), link, name, price_rp FROM scd
         |WHERE valid_from <= 100 AND (valid_to IS NULL OR valid_to > 100)""".stripMargin),

    // -- relational / analytic extensions (SURVEY.md §2.6-2.7) --
    "q_pricing_summary" -> Frame(Relational.pricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin, bench = BenchMark.Headline),
    "q_revenue_by_brand" -> Frame(Relational.revenueByBrand,
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin),
    "q_revenue_by_nation" -> Frame(Relational.revenueByNation,
      """SELECT r_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin, bench = BenchMark.Headline),
    "q_semi_join" -> Frame(Relational.customersWithOrders,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""".stripMargin),
    "q_anti_join" -> Frame(Relational.customersWithoutOrders,
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000.0)""".stripMargin),
    "q_window_rank" -> Frame(Relational.orderRankPerCustomer,
      """SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS order_seq
        |FROM orders""".stripMargin),
    "q_window_running" -> Frame(Relational.runningCustomerSpend,
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
        |FROM orders""".stripMargin),
    "q_topk_per_group" -> Frame(Relational.top3OrdersPerCustomer,
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin),
    "q_topk_aggregator" -> Frame(Relational.top3ViaAggregator,
      """SELECT o_custkey, o_orderkey, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders) WHERE rk <= 3""".stripMargin),
    "q_topk_global" -> Frame(Relational.top10Orders,
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
    "q_distinct_agg" -> Frame(Relational.distinctCustomersByStatus,
      """SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_customers, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus""".stripMargin),
    "q_approx_distinct" -> Frame(Relational.approxDistinctParts,
      // exact counts, plus the sketch-accuracy contract asserted in-query
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
        |  TRUE AS approx_within_5pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    "q_hll_merge" -> Frame(Relational.hllMergeUsers,
      // exact weekly distincts; the sketch contracts are asserted
      // in-query (engine-specific estimates never cross the comparator)
      """SELECT CAST(FLOOR(epoch(ts) / 604800.0) AS BIGINT) AS week,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS merge_equals_direct, TRUE AS est_within_5pct
        |FROM events GROUP BY CAST(FLOOR(epoch(ts) / 604800.0) AS BIGINT)""".stripMargin),
    "q_approx_quantiles" -> Frame(Relational.approxQuantilesOrders,
      // exact integer-cent percentiles, plus the sketch contract flag
      """SELECT o_orderstatus,
        |  quantile_cont(CAST(FLOOR(o_totalprice * 100 + 5.0e-1) AS BIGINT), 0.5) / 1.0e2 AS p50,
        |  quantile_cont(CAST(FLOOR(o_totalprice * 100 + 5.0e-1) AS BIGINT), 0.99) / 1.0e2 AS p99,
        |  TRUE AS sketch_within_1pct
        |FROM orders GROUP BY o_orderstatus""".stripMargin),
    "q_rollup" -> Frame(Relational.rollupRevenue,
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, COUNT(*) AS n
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin),
    "q_cube" -> Frame(Relational.cubeRevenue,
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total, COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),
    "q_window_lag" -> Frame(Relational.orderGapDays,
      """SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day',
        |    LAG(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        |    o_orderdate) AS INT) AS gap_days
        |FROM orders""".stripMargin),
    "q_pivot" -> Frame(Relational.pivotStatusByPriority,
      """SELECT o_orderpriority,
        |  COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_f,
        |  COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_o,
        |  COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_p
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    "q_unpivot" -> Frame(Relational.unpivotStatusMetrics,
      """WITH wide AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS DOUBLE) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |    CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
        |  FROM orders GROUP BY o_orderstatus
        |)
        |SELECT o_orderstatus, 'n_orders' AS metric, n_orders AS value FROM wide
        |UNION ALL
        |SELECT o_orderstatus, 'revenue' AS metric, revenue AS value FROM wide
        |UNION ALL
        |SELECT o_orderstatus, 'max_price' AS metric, max_price AS value FROM wide""".stripMargin),
    "q_set_ops" -> Frame(Relational.nationSetOps,
      """SELECT nationkey, 'both' AS tag FROM
        |  (SELECT s_nationkey AS nationkey FROM supplier INTERSECT SELECT c_nationkey FROM customer)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS tag FROM
        |  (SELECT c_nationkey AS nationkey FROM customer EXCEPT SELECT s_nationkey FROM supplier)""".stripMargin),
    "q_union_slices" -> Frame(Relational.unionSlices,
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 300000.0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice <= 300000.0 AND o_orderstatus = 'F'""".stripMargin),
    "q_above_avg" -> Frame(Relational.aboveAvgOrders,
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders o JOIN (
        |  SELECT o_custkey AS k,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        |  FROM orders GROUP BY o_custkey) a ON o.o_custkey = a.k
        |WHERE o.o_totalprice > a.avg_price""".stripMargin),
    "q_agg_salted" -> Frame((s, d) => Relational.saltedRevenueByFlag(s, d),
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),
    // the salted/unsalted pair on the key the audit proves skewed
    // (event_type, 5 values): same plain-join oracle for both —
    // salting must be result-invisible, and the pair is the local
    // measurement of what the salt buys
    "q_join_salted" -> Frame((s, d) => Relational.eventTypeSkewJoin(s, d, salted = true),
      // the oracle is the PLAIN join: salting must be result-invisible
      // (same SQL for the salted form and the unsalted baseline)
      EventSkewJoinSql),
    "q_join_skew_unsalted" -> Frame((s, d) => Relational.eventTypeSkewJoin(s, d, salted = false),
      EventSkewJoinSql),
    // does the salt pay on THIS data? hottest-partition share, ppm,
    // unsalted vs salted, on the uniform join key AND the
    // low-cardinality one
    "q_join_salt_audit" -> Sql(Seq("lineitem", "events"), SqlOps.joinSaltAudit),
    "q_events_json" -> Frame(Relational.eventsJsonAgg,
      """SELECT event_type,
        |  CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
        |  COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS n_k
        |FROM events GROUP BY event_type""".stripMargin),
    "q_orders_by_month" -> Frame(Relational.ordersByMonth,
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS y,
        |  CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1, 2""".stripMargin),
    "q_asof_join" -> Frame(Relational.asofLastPurchase,
      """WITH p AS (SELECT user_id, epoch_us(ts) AS pus FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.us, p.pus AS last_purchase_us
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.us >= p.pus""".stripMargin),
    // TPC-H classic shapes (Q3/Q10/Q14/Q15): segment-gated top-k
    // revenue, returned-items ranking, promo share, max-revenue
    // supplier — the deep multi-join + top-k analytic surface
    "q_shipping_priority" -> Frame(Relational.shippingPriority,
      """WITH r AS (
        |  SELECT o_orderkey, o_orderdate,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1998-01-01'
        |    AND EXISTS (SELECT 1 FROM customer
        |                WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
        |  GROUP BY o_orderkey, o_orderdate
        |)
        |SELECT o_orderkey, CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS order_epoch, revenue
        |FROM r ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
      bench = BenchMark.Headline),
    "q_returned_items" -> Frame(Relational.returnedItems,
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS lost_revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin),
    "q_promo_revenue" -> Frame(Relational.promoRevenue,
      """WITH m AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) END) AS DOUBLE) AS promo_revenue,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-02-01'
        |)
        |SELECT promo_revenue, total_revenue,
        |  100.0 * promo_revenue / total_revenue AS promo_pct
        |FROM m""".stripMargin),
    "q_top_supplier" -> Frame(Relational.topSupplier,
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate <  TIMESTAMP '1998-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)""".stripMargin),
    "q_order_priority_late" -> Frame(Relational.orderPriorityLateShip,
      """SELECT o_orderpriority, COUNT(*) AS n_late_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority""".stripMargin),
    "q_large_volume_customer" -> Frame(Relational.largeVolumeCustomers,
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 250.0
        |)
        |SELECT c_custkey, c_name, o_orderkey, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),
    // TPC-H classic shapes (Q5/Q6/Q7/Q8): region-local supplier
    // volume, scan-pruning filter-sum, bilateral trade by year,
    // national market share
    "q_local_supplier_volume" -> Frame(Relational.localSupplierVolume,
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate <  TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin),
    "q_forecast_revenue" -> Frame(Relational.forecastRevenue,
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue_delta,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin),
    "q_volume_shipping" -> Frame(Relational.volumeShipping,
      """SELECT supp_nation, cust_nation, l_year, CAST(SUM(vol) AS DOUBLE) AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS l_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS vol
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders   ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |      OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |) GROUP BY 1, 2, 3""".stripMargin),
    "q_market_share" -> Frame(Relational.marketShare,
      """WITH all_orders AS (
        |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS vol,
        |    n1.n_name AS supp_nation
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders   ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region  ON n2.n_regionkey = r_regionkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |)
        |SELECT o_year,
        |  CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol END) AS DOUBLE) /
        |    CAST(SUM(vol) AS DOUBLE) AS mkt_share,
        |  COUNT(*) AS n_items
        |FROM all_orders GROUP BY o_year""".stripMargin, bench = BenchMark.Headline),
    // market-basket association rules (apriori-gated brand
    // co-occurrence within orders, support/confidence/lift)
    "q_assoc_rules" -> Staged(Seq("lineitem", "part"), SqlOps.assocRules, prewarm = true),
    // item-item collaborative-filtering neighborhoods (top-5 cosine
    // neighbors per brand off the shared basket/pair stages)
    "q_item_similarity" -> Staged(Seq("lineitem", "part"), SqlOps.itemSimilarity, prewarm = true),
    // TPC-H classic shapes (Q9/Q13/Q17/Q19): product profit,
    // customer order-count distribution, small-quantity revenue,
    // disjunctive-predicate revenue
    "q_product_profit" -> Frame(Relational.productProfit,
      """SELECT n_name AS nation, CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |     - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.5 AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2""".stripMargin),
    "q_customer_distribution" -> Frame(Relational.customerDistribution,
      """WITH co AS (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey
        |)
        |SELECT c_count, COUNT(*) AS custdist FROM co GROUP BY c_count""".stripMargin),
    "q_small_qty_revenue" -> Frame(Relational.smallQtyRevenue,
      """WITH pa AS (
        |  SELECT l_partkey AS pk,
        |    0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)) AS qty_cut
        |  FROM lineitem GROUP BY l_partkey
        |)
        |SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey JOIN pa ON pk = l_partkey
        |WHERE p_brand = 'Brand#3' AND l_quantity < qty_cut""".stripMargin),
    "q_disjunctive_revenue" -> Frame(Relational.disjunctiveRevenue,
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin),
    // TPC-H classic shapes (Q21/Q22/Q2/Q11/Q16): correlated-exists
    // lateness, anti-join dormancy, groupwise-min offers, fraction-of-
    // total importance, distinct-count relationship matrix
    "q_waiting_orders" -> Frame(Relational.waitingOrders,
      """SELECT s_name, COUNT(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3 JOIN orders o2 ON o2.o_orderkey = l3.l_orderkey
        |              WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |                AND l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin),
    "q_dormant_customers" -> Frame(Relational.dormantCustomers,
      """WITH avgbal AS (
        |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS a
        |  FROM customer WHERE c_acctbal > 0.0 AND c_nationkey IN (1,2,3,4,5,6,7)
        |)
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, avgbal
        |WHERE c_nationkey IN (1,2,3,4,5,6,7) AND c_acctbal > a
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-02-01')
        |GROUP BY c_nationkey""".stripMargin),
    "q_min_cost_supplier" -> Frame(Relational.minCostSupplier,
      """WITH offers AS (
        |  SELECT l_partkey AS pk, l_suppkey AS sk,
        |    MIN(CAST(FLOOR(l_extendedprice * 1.0e2 + 5.0e-1) AS BIGINT) / CAST(l_quantity AS BIGINT)) AS unit_cents
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT p_partkey, p_name, s_name, n_name, unit_cents
        |FROM offers
        |JOIN part ON p_partkey = pk
        |JOIN supplier ON s_suppkey = sk
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND p_size = 10
        |  AND unit_cents = (SELECT MIN(o2.unit_cents) FROM offers o2
        |                    JOIN supplier s2 ON s2.s_suppkey = o2.sk
        |                    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        |                    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        |                    WHERE o2.pk = p_partkey AND r2.r_name = 'EUROPE')""".stripMargin),
    "q_important_parts" -> Frame(Relational.importantParts,
      """WITH vals AS (
        |  SELECT l_partkey AS pk,
        |    SUM(CAST(FLOOR(l_extendedprice * 1.0e2 + 5.0e-1) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS val
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE s_nationkey IN (1, 2, 3)
        |  GROUP BY 1
        |)
        |SELECT pk AS p_partkey, CAST(val AS BIGINT) AS part_value
        |FROM vals WHERE val * (SELECT COUNT(*) FROM vals) > 2 * (SELECT SUM(val) FROM vals)""".stripMargin),
    "q_parts_supplier_count" -> Frame(Relational.partsSupplierCount,
      """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 9, 13, 17, 21, 25)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
        |GROUP BY 1, 2, 3""".stripMargin),
    "q_grouping_sets" -> Sql(Seq("orders"), SqlOps.groupingSets),
    "q_percentiles" -> Sql(Seq("events"), SqlOps.eventPercentiles),
    // integer-exact quantity-weighted median price per return flag
    // (compressed-histogram window, no raw-row sort)
    "q_weighted_median" -> Sql(Seq("lineitem"), SqlOps.weightedMedian),
    // Benford leading-digit audit of order totals (per-digit observed
    // vs expected + chi-square contribution)
    "q_benford" -> Sql(Seq("orders"), SqlOps.benfordProfile),
    // count-min-gated top talkers (≥2% of events per user; exact
    // verify over the gated slice, oracle runs ungated)
    "q_cms_topusers" -> Sql(Seq("events"), SqlOps.cmsTopUsers),
    // global top-20 3-step event paths ((ts, event_id)-ordered
    // per-user sequences — the sequential-pattern profile)
    "q_event_paths" -> Sql(Seq("events"), SqlOps.eventPaths),
    // calendar-spine gap fill of the daily order series with
    // zero-fill + forward-carried last active day (freshness monitor)
    "q_gap_fill" -> Sql(Seq("orders"), SqlOps.gapFill),
    // RNG-free contrastive negatives by hash-ring rotation (2 per doc,
    // broadcast representative table, self-pairing impossible)
    "q_negative_pairs" -> Sql(Seq("documents"), SqlOps.negativePairs),
    // first-signup → first-purchase latency for the clean-converter
    // cohort (single conditional aggregate, integer seconds)
    "q_time_to_convert" -> Sql(Seq("events"), SqlOps.timeToConvert),
    // declarative data-quality expectations (range/null/referential)
    // as a (rule, violations, checked) contract report
    "q_dq_audit" -> Staged(Seq("lineitem", "orders", "customer"), SqlOps.dqAudit, prewarm = true),
    // empirical out-of-orderness per event type (running-MAX lag in
    // arrival order, per-user shards) — the watermark-sizing metric
    // events arrive perfectly ordered in the fixture (event_id is ts
    // order); planted-disorder tests cover the late path (r4)
    "q_disorder_profile" -> Sql(Seq("events"), SqlOps.disorderProfile,
      excuses = Set(
        "all_zero:n_late", "all_zero:max_delta_s", "all_zero:mean_delta_s")),
    // two-proportion z-test between id-parity arms (conversion = a
    // large purchase, value > 150) — the experimentation readout
    "q_ab_test" -> Sql(Seq("events"), SqlOps.abTest),
    // difference-in-differences across the arm split and a fixed pivot date
    "q_did_estimator" -> Sql(Seq("events"), SqlOps.didEstimator),
    // A/A null-split calibration of the same two-proportion protocol
    // (md5-bucket arms): z-squared must sit under the chi2_1 5% bar
    "q_aa_calibration" -> Sql(Seq("events"), SqlOps.aaCalibration),
    "q_ab_sprt" -> Sql(Seq("events"), SqlOps.abSprt),
    "q_js_shrinkage" -> Sql(Seq("documents"), SqlOps.jsShrinkage),
    "q_capture_recapture" -> Sql(Seq("documents"), SqlOps.captureRecapture),
    "q_quality_wilson" -> Sql(Seq("documents"), SqlOps.qualityWilson),
    "q_quality_partial_corr" -> Staged(Seq("documents"), SqlOps.qualityPartialCorr),
    "q_ngram_kneser_ney" -> Staged(Seq("documents"), SqlOps.ngramKneserNey),
    "q_dedup_lsh_skew" -> Staged(Seq("documents"), SqlOps.dedupLshBucketSkew),
    "q_dedup_minhash_calib" -> Staged(Seq("documents"), SqlOps.dedupMinhashCalibration),
    "q_langid_f1" -> Sql(Seq("documents"), SqlOps.langidF1),
    "q_token_burstiness" -> Staged(Seq("documents"), SqlOps.tokenBurstiness),
    "q_dedup_cascade_cost" -> Staged(Seq("documents"), SqlOps.dedupCascadeCost),
    // Wald-Wolfowitz runs test of label arrangement along doc_id —
    // the storage-order shuffle-quality audit
    "q_runs_test" -> Sql(Seq("documents"), SqlOps.runsTest),
    // correlated LATERAL top-1 (decorrelated by Catalyst into a
    // ranked join — the per-row subquery form of top-k per group)
    "q_lateral_latest" -> Sql(Seq("customer", "orders"), SqlOps.lateralLatest),
    // k-anonymity privacy audit over the (nation, segment)
    // quasi-identifier (k=5; flagged groups are the worklist)
    // no quasi-identifier group is below k at the fixture SFs; the
    // at-risk path is covered by the k-anonymity spec fixture
    "q_k_anonymity" -> Sql(Seq("customer"), SqlOps.kAnonymity, excuses = Set("all_zero:at_risk")),
    "q_l_diversity" -> Sql(Seq("customer"), SqlOps.lDiversity),
    // at sf0.1 every (nation, segment) cell is large enough that no
    // distribution strays past t — the healthy-data answer; the
    // smaller SFs' coarser cells flag above_t = 1, and t_distance in
    // the same rows is the live metric at every SF
    "q_t_closeness" -> Sql(Seq("customer"), SqlOps.tCloseness, excuses = Set("all_zero:above_t")),
    // first→last shipment span per order, rolled up by priority
    "q_order_cycle_time" -> Sql(Seq("lineitem", "orders"), SqlOps.orderCycleTime),
    // TPC-H Q20 shape: suppliers shipping >1.5× a part family's
    // per-supplier average (integer-exact window threshold + dim joins)
    "q_excess_suppliers" -> Sql(Seq("lineitem", "part", "supplier", "nation"),
      SqlOps.excessSuppliers),
    // exact p05/p95 winsorized mean via a cents-histogram cumulative
    // window (domain-ordered — no raw-row sort, boundaries broadcast)
    "q_winsorize" -> Sql(Seq("orders"), SqlOps.winsorize),
    // purchase conversion by ⌊log2⌋ session-size bucket off the shared
    // gap-sessionize spans
    "q_session_conversion" -> Sql(Seq("events"), SqlOps.sessionConversion),
    // per-day peak concurrent sessions: midnight carry-in count + a
    // day-sharded ±1 sweep (no global ordered timeline)
    // at sf0.001 no session spans a day boundary, so the carried-over
    // base is 0 on every day; sf0.01/sf0.1 both have nonzero base
    "q_concurrency_peak" -> Staged(Seq("events"), SqlOps.concurrencyPeak, prewarm = true,
      excuses = Set("all_zero:base")),
    // integer-exact 8-day half-life EWMA of daily revenue over the
    // zero-filled day spine (powers-of-two weights, one int64 per day)
    "q_ewma_revenue" -> Sql(Seq("orders"), SqlOps.ewmaRevenue),
    // multi-source BFS landmark distances on the candidate graph
    // (4 staged frontier rounds; Pregel-as-joins shape)
    "q_bfs_levels" -> Staged(Seq("documents"), SqlOps.bfsLevels, prewarm = true),
    // deterministic md5-ring training shuffle: 32 shards, in-shard
    // positions, order-sensitive modular checksum per shard
    "q_shuffle_shards" -> Sql(Seq("documents"), SqlOps.shuffleShards),
    // curriculum manifest: difficulty quartile phases, md5 shards
    "q_curriculum_order" -> Staged(Seq("documents"), SqlOps.curriculumOrder),
    // min-k% prob memorization signal off the same tf index
    "q_mink_prob" -> Staged(Seq("documents"), SqlOps.minkProb),
    "q_window_range" -> Sql(Seq("orders"), SqlOps.windowRangeSpend),
    "q_window_moving_avg" -> Sql(Seq("orders"), SqlOps.windowMovingAvg),
    "q_percent_rank" -> Sql(Seq("orders"), SqlOps.percentRankOrders),
    "q_window_first_last" -> Sql(Seq("orders"), SqlOps.windowFirstLast),
    "q_window_dense_cume" -> Sql(Seq("orders"), SqlOps.windowDenseCume),
    "q_bucketize" -> Sql(Seq("events"), SqlOps.bucketizeValues),
    "q_mode_priority" -> Sql(Seq("orders"), SqlOps.modePriority),
    "q_agg_collect" -> Sql(Seq("orders"), SqlOps.collectOrders),
    "q_corr_exact" -> Sql(Seq("lineitem"), SqlOps.corrQtyPrice),
    "q_corr_matrix" -> Sql(Seq("lineitem"), SqlOps.corrMatrix),

    // -- dedup family (documents) --
    "q_dedup_exact" -> Sql(Seq("documents"), SqlOps.dedupExact),
    "q_dedup_minhash" -> Staged(Seq("documents"), SqlOps.dedupMinhash, prewarm = true,
      bench = BenchMark.Headline),
    // sketch-read similarity scoring off the same staged signatures
    "q_dedup_minhash_est" -> Staged(Seq("documents"), SqlOps.dedupMinhashEst, prewarm = true),
    "q_dedup_ngram_jaccard" -> Staged(Seq("documents"), SqlOps.dedupNgramJaccard, prewarm = true),
    "q_dedup_verified" -> Staged(Seq("documents"), SqlOps.dedupVerified, prewarm = true),
    "q_dedup_lsh_eval" -> Staged(Seq("documents"), SqlOps.dedupLshEval, prewarm = true),
    // threshold sensitivity: pair/doc counts per candidate Jaccard bar
    "q_dedup_threshold_sweep" -> Staged(Seq("documents"), SqlOps.dedupThresholdSweep),
    // S-curve audit: empirical vs exact-rational theoretical collision
    // rate per Jaccard decile over the deterministic sample
    "q_lsh_scurve" -> Staged(Seq("documents"), SqlOps.lshScurve),
    // (bands, rows) optimizer: expected FN/FP mass per factorization
    // of the 8-slice signature against the corpus's own pair histogram
    "q_lsh_param_opt" -> Staged(Seq("documents"), SqlOps.lshParamOpt),
    "q_dedup_simhash" -> Sql(Seq("documents"), SqlOps.dedupSimhash),
    "q_dedup_simhash_pairs" -> Staged(Seq("documents"), SqlOps.dedupSimhashPairs, prewarm = true,
      bench = BenchMark.Headline),
    "q_dedup_sorted_neighborhood" -> Staged(Seq("documents"), SqlOps.dedupSortedNeighborhood, prewarm = true),
    "q_dedup_fingerprint" -> Sql(Seq("documents"), SqlOps.dedupFingerprint),
    // fixture near-dups differ at the TEXT START, so in-block pairs
    // are exactly the snapshot copies (distance 0 is the documented
    // design); MicroOracleSpec plants distances 1..5 (r13)
    "q_dedup_levenshtein" -> Sql(Seq("documents"), SqlOps.dedupLevenshtein,
      excuses = Set("all_zero:edit_dist")),
    "q_ntile" -> Sql(Seq("orders"), SqlOps.orderDeciles),
    "q_dedup_embedding_cosine" -> Staged(Seq("embeddings"), SqlOps.dedupEmbeddingCosine, prewarm = true,
      bench = BenchMark.Headline),
    "q_dedup_semantic" -> Staged(Seq("embeddings"), SqlOps.dedupSemantic, prewarm = true),
    "q_ann_margin" -> Staged(Seq("embeddings"), SqlOps.annMargin, prewarm = true),
    "q_dedup_canonical" -> Sql(Seq("documents"), SqlOps.dedupCanonical),
    // pairs → clusters: transitive closure of the minhash candidate
    // pairs via iterative min-label propagation (graft.ops.Cluster)
    "q_dedup_cluster" -> Frame(clustersStaged,
      // transitive closure of the same candidate pairs as a recursive CTE;
      // MIN over all reachable labels = the component minimum (shared by
      // both CC implementations)
      CLUSTER_ORACLE, owner = true, bench = BenchMark.Steady),
    // the O(log n) large-star/small-star variant against the SAME
    // transitive-closure oracle — both implementations gate-checked
    "q_dedup_cluster_star" -> Frame(
      (s, d) => {
        val pairs = sqlStaged(Seq("documents"), SqlOps.dedupMinhash)(s, d)
        graft.ops.Cluster.connectedComponentsStar(
          pairs.select(col("doc_a").as("a"), col("doc_b").as("b")))
      },
      CLUSTER_ORACLE),
    // delta-edge cluster maintenance: merge the new-arrivals batch's
    // candidate pairs into the staged base map via component
    // contraction — must reproduce full CC on the union graph (same
    // recursive-CTE oracle as the from-scratch builds), at cost ∝ delta
    // the delta pairs come from the incremental candidate op (new
    // signatures probing the existing band index, cost ∝ delta) —
    // OpsSpec proves them identical to the full pair set restricted
    // to new docs, so the union-closure oracle still applies
    "q_dedup_cluster_delta" -> Frame(clustersDeltaStaged,
      // the incremental update must land on the SAME map as a full
      // rebuild over base ∪ delta — which is the whole pair set
      CLUSTER_ORACLE, bench = BenchMark.Steady),
    // the final dedup step: the cleaned corpus = one representative per
    // duplicate cluster (its minimum id) plus every unclustered doc;
    // the corpus definition is single-sourced from SqlOps.corpusCte
    // (the same corpus the minhash pairs are built over)
    "q_dedup_survivors" -> Frame((s, d) => survivorsFrom(clustersStaged(s, d), s, d),
      SURVIVORS_ORACLE),
    // the incremental pipeline closed end-to-end: delta candidates →
    // delta-CC map → survivors, against the SAME survivors oracle as
    // the full rebuild (the delta map must be closure-identical)
    "q_dedup_survivors_delta" -> Frame((s, d) => survivorsFrom(clustersDeltaStaged(s, d), s, d),
      SURVIVORS_ORACLE),
    "q_sample_hash" -> Sql(Seq("documents"), SqlOps.sampleHash),
    "q_sample_stratified" -> Sql(Seq("documents"), SqlOps.sampleStratified),
    // Neyman-optimal budget allocation across strata (N_h * sigma_h)
    "q_sample_neyman" -> Sql(Seq("documents"), SqlOps.sampleNeyman),
    "q_cap_per_source" -> Sql(Seq("documents"), SqlOps.capPerSource),
    "q_global_rownum" -> Frame(sqlq(Seq("documents"), SqlOps.globalRowNumber),
      // deliberately NOT the two-phase rendering: the single global
      // window is the independent ground truth the shard/offset
      // decomposition must reproduce id-for-id
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 16
         |      + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)) % 16 AS shard,
         |    md5(text) AS h
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(ROW_NUMBER() OVER (ORDER BY shard, h, doc_id) AS BIGINT) AS global_id
         |FROM sh""".stripMargin, bench = BenchMark.Headline),
    "q_sample_weighted" -> Sql(Seq("documents"), SqlOps.sampleWeighted),
    // shard-parallel token-budget packing (per-shard windows, no
    // single-partition exchange) and weight-proportional corpus mixing
    "q_pack_sequences" -> Sql(Seq("documents"), SqlOps.packSequences),
    // context-length sizing: naive-padding vs concat-packing bound
    "q_pack_efficiency" -> Staged(Seq("documents"), SqlOps.packEfficiency),
    "q_mix_epochs" -> Sql(Seq("documents"), SqlOps.mixEpochs),
    // which sources copy from which: rollup of the staged minhash
    // band candidates into a source×source matrix
    "q_dedup_source_overlap" -> Staged(Seq("documents"), SqlOps.dedupSourceOverlap, prewarm = true),
    // content-addressed anti-join of a fresh snapshot against the
    // already-ingested corpus (the daily-ingest dedup gate)
    "q_dedup_incremental" -> Sql(Seq("documents"), SqlOps.dedupIncremental),
    // incremental candidate generation: new docs probe the existing
    // band index (cost ∝ delta), feeding the delta-CC update below
    "q_dedup_minhash_delta" -> Staged(Seq("documents"), SqlOps.dedupMinhashDelta),
    // corpus-common (boilerplate) 3-gram fraction off the uncapped
    // distinct shingle index — the C4/CCNet line-dedup analogue
    "q_dedup_common_ngrams" -> Staged(Seq("documents"), SqlOps.dedupCommonNgrams, prewarm = true),
    // one integer-exact PageRank power step over the minhash candidate
    // graph (hub detection on the duplicate graph), and the 3-step
    // unrolled iteration
    // degree assortativity of the candidate graph: dup farms vs
    // template fan-out
    "q_graph_assortativity" -> Staged(Seq("documents"), SqlOps.graphAssortativity),
    "q_pagerank_step" -> Staged(Seq("documents"), SqlOps.pagerankStep, prewarm = true),
    "q_pagerank_iter" -> Staged(Seq("documents"), SqlOps.pagerankIter),
    "q_textrank_keywords" -> Staged(Seq("documents"), SqlOps.textrankKeywords),
    "q_linkage_fs" -> Staged(Seq("documents"), SqlOps.linkageFs),
    "q_link_prediction" -> Staged(Seq("lineitem"), SqlOps.linkPrediction),
    "q_markov_stationary" -> Staged(Seq("events"), SqlOps.markovStationary),
    // entropy rate of the same chain, weighted by the shared pi chain
    "q_markov_entropy" -> Staged(Seq("events"), SqlOps.markovEntropyRate),
    "q_cohort_ltv" -> Sql(Seq("orders"), SqlOps.cohortLtv),
    // the driver-loop form of the same 3 iterations, gated against the
    // SAME oracle as the SQL-unrolled tree (like CC vs CC-star)
    "q_pagerank_loop" -> Frame(
      (s, d) => {
        val pairs = sqlStaged(Seq("documents"), SqlOps.dedupMinhash)(s, d)
        graft.ops.Graph.pagerank(
          pairs.select(col("doc_a").as("a"), col("doc_b").as("b")), iters = 3)
      },
      SqlOps.pagerankIter.single(DuckDialect), bench = BenchMark.Steady),
    // deterministic synchronous label-propagation communities over the
    // candidate graph (3 staged rounds, majority label, min tie-break)
    "q_label_prop" -> Staged(Seq("documents"), SqlOps.labelProp),
    // 2-core of the candidate graph by staged peeling rounds (dense
    // duplicate clusters vs incidental collisions), and the
    // loop-until-fixpoint driver form gated against the same oracle
    "q_kcore" -> Staged(Seq("documents"), SqlOps.kcoreIter),
    // edge-grain cohesion: the 4-truss peel (every edge in ≥2
    // triangles at the fixpoint) — the sharper sibling of the k-core
    "q_graph_truss" -> Staged(Seq("documents"), SqlOps.trussIter),
    "q_kcore_loop" -> Frame(
      (s, d) => {
        val pairs = sqlStaged(Seq("documents"), SqlOps.dedupMinhash)(s, d)
        graft.ops.Graph.kcore(
          pairs.select(col("doc_a").as("a"), col("doc_b").as("b")), k = 2)
      },
      SqlOps.kcoreIter.single(DuckDialect)),
    // loop-until-convergence twin of q_graph_truss, same oracle
    "q_graph_truss_loop" -> Frame(
      (s, d) => {
        val pairs = sqlStaged(Seq("documents"), SqlOps.dedupMinhash)(s, d)
        graft.ops.Graph.truss(
          pairs.select(col("doc_a").as("a"), col("doc_b").as("b")), k = 4)
      },
      SqlOps.trussIter.single(DuckDialect)),
    // PPJoin-style prefix-filtered similarity self-join off the
    // uncapped shingle index (the signature-free bounded-candidate path)
    "q_dedup_prefix" -> Staged(Seq("documents"), SqlOps.dedupPrefix, prewarm = true,
      bench = BenchMark.Steady),
    "q_dedup_prefix_delta" -> Staged(Seq("documents"), SqlOps.dedupPrefixDelta),
    // duplicate-cluster size histogram off the staged cluster map —
    // the dedup diagnostic read after every clustering run
    "q_dedup_cluster_sizes" -> Frame(
      (s, d) => {
        val cl = clustersStaged(s, d)
        cl.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
          .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      },
      s"""$CLUSTER_CTES,
         |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM clusters GROUP BY cluster_id)
         |SELECT cluster_size, COUNT(*) AS n_clusters FROM cs GROUP BY cluster_size""".stripMargin),
    // the embedding-side pairs → clusters composition: cosine near-dup
    // candidates (8-band sign-LSH gate) closed into components by the
    // same CC operator the text side uses, against the same
    // recursive-CTE closure oracle. Embedding near-dup chains give this
    // graph a much larger diameter than text minhash clusters (10
    // plain-propagation rounds at sf0.1) — but ALL THREE round-saving
    // variants were measured here and lose at local scale, where
    // per-round plan/codegen cost dominates the tiny dataflow: plain
    // 10 rounds 2.5 s, pointer-doubling 7 rounds 3.3 s, star
    // alternation 5 rounds 4.0 s. At 100 TB the ranking inverts (data
    // volume per round dominates, round count is what matters) and
    // this composition routes to connectedComponentsStar.
    "q_dedup_embedding_clusters" -> Frame(
      (s, d) => {
        val pairs = sqlStaged(Seq("embeddings"), SqlOps.dedupEmbeddingCosine)(s, d)
        graft.ops.Cluster.connectedComponents(
            pairs.select(col("vec_a").as("a"), col("vec_b").as("b")))
          .select(col("doc_id").as("vec_id"), col("cluster_id"))
      },
      s"""${closureCtes(SqlOps.dedupEmbeddingCosine.single(DuckDialect), "vec_a", "vec_b", "vec_id")}
         |SELECT vec_id, cluster_id FROM clusters""".stripMargin),

    // -- similarity search (embeddings) --
    "q_embedding_stats" -> Sql(Seq("embeddings"), SqlOps.embeddingStats),
    "q_embedding_drift" -> Sql(Seq("embeddings"), SqlOps.embeddingDrift),
    "q_label_drift" -> Sql(Seq("embeddings"), SqlOps.labelDrift),
    // two-sample KS over doc lengths (en vs rest): exact int64 D
    "q_ks_drift" -> Sql(Seq("documents"), SqlOps.ksDrift),
    "q_knn_bruteforce" -> Staged(Seq("embeddings"), SqlOps.knnBruteForce, prewarm = true),
    // influence concentration: which training vectors dominate eval
    // top-k lists (split-leakage audit from the embedding side)
    "q_train_attribution" -> Staged(Seq("embeddings"), SqlOps.trainAttribution, prewarm = true),
    // recall@3 of the attribution shortlist vs exact — bounds what the
    // 2-probe IVF pair stage loses vs the cartesian it replaced
    "q_attr_shortlist_recall" -> Staged(Seq("embeddings"), SqlOps.attrShortlistRecall),
    "q_ann_sign_lsh" -> Staged(Seq("embeddings"), SqlOps.annSignLsh, prewarm = true),
    // recall@3 of the sign-LSH index vs exact brute force on the
    // bounded query set — the nightly index-drift check
    // single-band top-3 recall is honestly 0 (a 1/256 bucket almost
    // never holds a global top-3 neighbor); the union columns in the
    // same rows are the positive signal, OpsSpec asserts them nonzero
    "q_ann_eval" -> Staged(Seq("embeddings"), SqlOps.annEval, prewarm = true,
      excuses = Set("all_zero:n_hit", "all_zero:recall_at_3")),
    // k-occurrence (hubness) audit of the sign-LSH kNN lists
    // healthy space: no vector exceeds the hub threshold; the
    // skewness column is the live metric and MicroOracleSpec plants a
    // hub that flips hub_count positive
    "q_ann_hubness" -> Staged(Seq("embeddings"), SqlOps.annHubness, excuses = Set("all_zero:hub_count")),
    "q_ann_ivf" -> Staged(Seq("embeddings"), SqlOps.annIvf, prewarm = true, bench = BenchMark.Headline),
    // posting-list balance audit over the shared IVF assignment
    "q_ivf_balance" -> Staged(Seq("embeddings"), SqlOps.ivfBalance),
    // does int8 quantization change who the top-3 neighbors are?
    "q_ann_quant_recall" -> Staged(Seq("embeddings"), SqlOps.annQuantRecall),
    // IVF-PQ's storage half: 4 codebook ids per vector off the shared
    // per-label component means
    "q_ann_pq" -> Staged(Seq("embeddings"), SqlOps.annPq, prewarm = true),
    // the PQ read path: ADC top-10 per query off the staged code table
    // (scores 4 int lookups per vector — never touches the embeddings)
    "q_ann_pq_search" -> Staged(Seq("embeddings"), SqlOps.annPqSearch, prewarm = true),
    // the composed FAISS-style pipeline: IVF 2-cell probe → ADC top-20
    // off the code table → exact-cosine refine to top-5
    "q_ann_ivfpq" -> Staged(Seq("embeddings"), SqlOps.annIvfPq, prewarm = true, bench = BenchMark.Steady),
    "q_ann_ivfpq_eval" -> Staged(Seq("embeddings"), SqlOps.annIvfPqEval, prewarm = true),
    // incremental IVF maintenance: assign only today's delta slice to
    // yesterday's staged centroids, merge into the staged sufficient
    // stats (cost ∝ delta); the oracle is the full-rebuild form
    "q_ann_ivf_delta" -> Staged(Seq("embeddings"), SqlOps.annIvfDelta, prewarm = true,
      // deliberately NOT the incremental rendering: the from-scratch
      // reassign-and-aggregate pass is the independent ground truth the
      // staged sufficient-statistics merge must reproduce cell-for-cell
      checkedBy = Some(SqlOps.annIvfDeltaFull)),
    // one Lloyd iteration: broadcast-argmin assignment (the staged IVF
    // working set) + the per-cell centroid update groupBy
    "q_kmeans_step" -> Staged(Seq("embeddings"), SqlOps.kmeansStep, prewarm = true),

    // -- text analysis (documents) --
    "q_text_tokens" -> Sql(Seq("documents"), SqlOps.textTokens),
    "q_dedup_substring" -> Staged(Seq("documents"), SqlOps.dedupSubstring, prewarm = true),
    "q_mix_temperature" -> Sql(Seq("documents"), SqlOps.mixTemperature),
    "q_orders_rfm" -> Staged(Seq("orders"), SqlOps.ordersRfm, prewarm = true),
    "q_heavy_hitters" -> Staged(Seq("documents"), SqlOps.heavyHitters, prewarm = true),
    "q_ann_ivf_probe2" -> Staged(Seq("embeddings"), SqlOps.annIvfProbe2, prewarm = true),
    // vector-quality gate: per-cell members farther than 4x the cell's
    // median squared distance from their OWN centroid
    // fixture embeddings are healthy (zeros are the documented-correct
    // answer); MicroOracleSpec plants positives (r11)
    "q_embedding_outliers" -> Staged(Seq("embeddings"), SqlOps.embeddingOutliers,
      excuses = Set("all_zero:n_outliers", "all_null:worst_dist")),
    // recall-vs-cost curve per probe depth (staged pair table)
    "q_ann_nprobe_sweep" -> Staged(Seq("embeddings"), SqlOps.annNprobeSweep),
    // near-dup graph degree histogram (isolates / hubs)
    "q_ann_degree_hist" -> Staged(Seq("embeddings"), SqlOps.annDegreeHist),
    "q_text_unigram_lm" -> Staged(Seq("documents"), SqlOps.textUnigramLm, prewarm = true),
    "q_dsir_weights" -> Staged(Seq("documents"), SqlOps.dsirWeights, prewarm = true),
    "q_search_bm25" -> Staged(Seq("documents"), SqlOps.searchBm25, prewarm = true),
    "q_search_ndcg" -> Staged(Seq("documents"), SqlOps.searchNdcg),
    "q_search_rrf" -> Staged(Seq("documents"), SqlOps.searchRrf),
    "q_search_rbo" -> Staged(Seq("documents"), SqlOps.searchRbo),
    "q_corpus_diversity" -> Staged(Seq("documents"), SqlOps.corpusDiversity),
    "q_ship_latency_priority" -> Sql(Seq("lineitem", "orders"), SqlOps.shipLatencyPriority),
    // provenance entropy over the staged cluster map (the clusters-view
    // pattern of q_dedup_cluster_eval; oracle re-derives the map via
    // the recursive-CTE closure)
    "q_cluster_source_entropy" -> Frame(
      (s, d) => {
        clustersStaged(s, d).createOrReplaceTempView("clusters")
        graft.Tables(s, d, "documents").createOrReplaceTempView("documents")
        s.sql(SqlOps.clusterSourceEntropy(SparkDialect))
      },
      s"""$CLUSTER_CTES
         |SELECT * FROM (
         |${SqlOps.clusterSourceEntropy(DuckDialect)}
         |)""".stripMargin),
    "q_bpe_pairs" -> Staged(Seq("documents"), SqlOps.bpePairs, prewarm = true),
    // the iterative BPE trainer: 3 staged merge rounds over the vocab
    // (prewarmed — the rounds feed TWO consumers, merges + encode)
    "q_bpe_merges" -> Staged(Seq("documents"), SqlOps.bpeMerges, prewarm = true),
    "q_ulm_viterbi" -> Staged(Seq("documents"), SqlOps.ulmViterbi),
    "q_ulm_em_step" -> Staged(Seq("documents"), SqlOps.ulmEmStep),
    "q_ulm_em_gain" -> Staged(Seq("documents"), SqlOps.ulmEmGain),
    "q_ulm_encode" -> Staged(Seq("documents"), SqlOps.ulmEncode),
    // the FULL SentencePiece trainer loop: soft-EM expected counts
    // over all segmentations + iterative pruning to a 64-piece vocab
    "q_ulm_soft_em" -> Staged(Seq("documents"), SqlOps.ulmSoftEm),
    "q_ulm_prune" -> Staged(Seq("documents"), SqlOps.ulmPrune64Timed),
    "q_ulm_drift" -> Staged(Seq("documents"), SqlOps.ulmDrift),
    // tokenizer-selection A/B (both trained artifacts, one tf join);
    // name sorts after q_ulm_viterbi so ulm_seg stays billed there
    // ULM strictly dominates BPE on this corpus (fewer pieces on
    // every doc) — bpe_wins/ties honestly 0; the per-doc piece
    // counts in the same readout are the live columns
    "q_ulm_vs_bpe" -> Staged(Seq("documents"), SqlOps.ulmVsBpe,
      excuses = Set("all_zero:bpe_wins", "all_zero:ties")),
    // -- preference-data aggregation (RLHF data prep) --
    "q_pref_winrate" -> Staged(Seq("documents"), SqlOps.prefWinrate, prewarm = true),
    "q_pref_bradley_terry" -> Staged(Seq("documents"), SqlOps.prefBradleyTerry),
    // calibration of a cheap quality score against the rule battery
    "q_filter_calibration" -> Sql(Seq("documents"), SqlOps.filterCalibration),
    // GRPO-style per-group advantage baseline
    "q_reward_group_norm" -> Sql(Seq("documents"), SqlOps.rewardGroupNorm),
    // DPO chosen/rejected pair construction per prompt group
    "q_pref_dpo_pairs" -> Sql(Seq("documents"), SqlOps.prefDpoPairs),
    // Poisson-bootstrap CI for the corpus pass-rate
    "q_eval_bootstrap" -> Sql(Seq("documents"), SqlOps.evalBootstrap),
    // full Lloyd loop: per-round reassignments + centroid shift
    "q_kmeans_loop" -> Staged(Seq("embeddings"), SqlOps.kmeansLoop),
    // simplified (centroid-based) silhouette over the final model;
    // shares the Lloyd chain, billed to q_kmeans_loop by name order
    "q_kmeans_silhouette" -> Staged(Seq("embeddings"), SqlOps.kmeansSilhouette),
    // external validation: purity + NMI of the final assignment
    // against ground-truth labels (same Lloyd chain)
    "q_kmeans_purity" -> Staged(Seq("embeddings"), SqlOps.kmeansPurity),
    // chance-corrected pair-counting validation next to purity/NMI
    "q_kmeans_ari" -> Staged(Seq("embeddings"), SqlOps.kmeansAri),
    // DoReMi-style excess-loss domain reweighting
    "q_mix_doremi" -> Staged(Seq("documents"), SqlOps.mixDoremiOp),
    // water-filling token-budget allocation across domains
    "q_mix_waterfill" -> Sql(Seq("documents"), SqlOps.mixWaterfill),
    // split-conformal threshold for the cheap filter score
    "q_filter_conformal" -> Staged(Seq("documents"), SqlOps.filterConformal),
    // Johnson-Lindenstrauss projection + distortion audit
    "q_embed_jl_project" -> Staged(Seq("embeddings"), SqlOps.embedJlProject, prewarm = true),
    "q_embed_jl_distortion" -> Staged(Seq("embeddings"), SqlOps.embedJlDistortion),
    "q_bpe_encode" -> Staged(Seq("documents"), SqlOps.bpeEncode, bench = BenchMark.Headline),
    // no Indonesian docs in the fixture: id_hits is honestly 0; the en
    // counters in the same rows are live and the langid spec plants id text
    "q_text_langid" -> Sql(Seq("documents"), SqlOps.textLangId, excuses = Set("all_zero:id_hits")),
    "q_text_langid_eval" -> Sql(Seq("documents"), SqlOps.textLangIdEval),
    "q_text_quality" -> Sql(Seq("documents"), SqlOps.textQuality),
    "q_text_fingerprint" -> Sql(Seq("documents"), SqlOps.textFingerprint),
    "q_text_tfidf" -> Staged(Seq("documents"), SqlOps.textTfIdf, bench = BenchMark.Steady),
    "q_text_bigrams" -> Sql(Seq("documents"), SqlOps.textBigrams),
    "q_text_bigrams_source" -> Sql(Seq("documents"), SqlOps.topBigramsPerSource),
    "q_text_repetition" -> Sql(Seq("documents"), SqlOps.textRepetition),
    "q_corpus_filter" -> Sql(Seq("documents"), d => SqlOps.corpusFilter(d)),
    // threshold sensitivity of the shipped 0.4 quality gate, one
    // scoring pass against a 6-row threshold domain
    // the fixture has no Indonesian docs, so the id-hit counters are
    // honestly 0 at every threshold; the en counters in the same
    // rows are the live columns and the langid spec plants id text
    "q_quality_sweep" -> Sql(Seq("documents"), SqlOps.qualitySweep, excuses = Set("all_zero:n_id")),
    // does the quality score ORDER docs correctly? Mann-Whitney AUC
    // (en vs und labels), exact integer midranks, ppm readout
    "q_quality_auc" -> Sql(Seq("documents"), SqlOps.qualityAuc),
    // is the quality score just a length detector? Spearman rank
    // correlation vs token count, exact doubled midranks
    "q_quality_spearman" -> Sql(Seq("documents"), SqlOps.qualitySpearman),
    "q_quality_kendall" -> Staged(Seq("documents"), SqlOps.qualityKendall),
    // data valuation: per-source leave-one-out effect on corpus mean
    // quality and per-doc gate pass rate (additive decomposition —
    // one scoring pass, never |sources| re-scores)
    "q_source_loo" -> Sql(Seq("documents"), SqlOps.sourceLoo),
    // the shippable artifact: survivors + redacted-content hash + shard
    "q_release_manifest" -> Sql(Seq("documents"), d => SqlOps.releaseManifest(d)),
    // writer-side skew audit of the manifest's md5 shard ring
    "q_shard_skew" -> Sql(Seq("documents"), SqlOps.shardSkew),
    // score-vs-language reliability deciles + expected calibration error
    "q_quality_calibration" -> Sql(Seq("documents"), SqlOps.qualityCalibration),
    // Murphy decomposition of the decile-binned Brier score
    "q_quality_brier" -> Sql(Seq("documents"), SqlOps.qualityBrier),
    // the one-page datasheet next to the manifest: size, mix, dup and
    // PII facts as (metric, value) rows off staged artifacts
    "q_dataset_card" -> Staged(Seq("documents"), SqlOps.datasetCard),
    // the card's ADDITIVE slice over a deterministic md5-half of the
    // corpus — the exact per-batch SQL the streaming ingest card runs
    // (DailyIngestSpec proves the rollup; this pins the fragment
    // cross-engine on a proper subset, so a slice-insensitive bug —
    // e.g. reading `documents` instead of `from` — cannot hide)
    "q_dataset_card_delta" -> Sql(Seq("documents"),
      d => SqlOps.datasetCardAdditive(d, from = CardDeltaSlice)),
    "q_curation_funnel" -> Sql(Seq("documents"), SqlOps.curationFunnel),
    // the RAW documents table has no exact dup (dups are planted via
    // the two-snapshot corpus CTE, which this per-source report of
    // the raw table deliberately does not use)
    "q_corpus_report" -> Sql(Seq("documents"), SqlOps.corpusReport, excuses = Set("all_zero:dup_frac")),
    "q_contamination" -> Sql(Seq("documents"), SqlOps.contamination),
    // held-out 4-gram novelty vs the training split, per source —
    // the memorization-side sibling of decontamination
    "q_ngram_novelty" -> Sql(Seq("documents"), SqlOps.ngramNovelty),
    // the bloom-gated variant: identical rows (the oracle runs the
    // ungated exact form — the bloom prefilter must be result-invisible)
    "q_contamination_bloom" -> Staged(Seq("documents"), SqlOps.contaminationBloom, prewarm = true,
      bench = BenchMark.Headline),
    // per-source leak rollup (quarantine decisions, not per-doc drops)
    "q_contamination_by_source" -> Staged(Seq("documents"), SqlOps.contaminationBySource),
    "q_text_ttr" -> Sql(Seq("documents"), SqlOps.textTtr),
    // corpus length profile (log2 buckets) and key-skew diagnostic
    "q_length_histogram" -> Sql(Seq("documents"), SqlOps.lengthHistogram),
    "q_skew_profile" -> Sql(Seq("orders"), SqlOps.skewProfile),
    // per-language median quality cutoff and per-dimension embedding
    // normalization stats
    "q_quality_adaptive" -> Staged(Seq("documents"), SqlOps.qualityAdaptiveFilter, prewarm = true),
    "q_embedding_dim_stats" -> Sql(Seq("embeddings"), SqlOps.embeddingDimStats),
    "q_embedding_whiten" -> Sql(Seq("embeddings"), SqlOps.embeddingWhiten),
    "q_pca_power_step" -> Sql(Seq("embeddings"), SqlOps.pcaPowerStep),
    "q_text_dup_ngrams" -> Sql(Seq("documents"), SqlOps.textDupNgrams),
    "q_text_entropy" -> Sql(Seq("documents"), SqlOps.textEntropy),
    "q_text_scrub" -> Sql(Seq("documents"), SqlOps.textScrub),
    // RAG/pretraining chunker: overlapping token windows per document
    "q_chunk_documents" -> Sql(Seq("documents"), SqlOps.chunkDocuments),
    // int8 vector compression for the ANN index's storage tier
    "q_embedding_quantize" -> Sql(Seq("embeddings"), SqlOps.embeddingQuantize),
    "q_vocab_coverage" -> Sql(Seq("documents"), SqlOps.vocabCoverage),
    "q_text_rolling_hash" -> Frame(
      (s, d) => {
        graft.functions.RollingHash.register(s)
        graft.Tables(s, d, "documents").createOrReplaceTempView("documents")
        s.sql("SELECT doc_id, rolling_hash(text) AS rhash FROM documents")
      },
      // empty-text guard: list_reduce on an empty list ERRORS in DuckDB,
      // while the Spark expression returns 0 — the CASE keeps the oracle
      // total on datasets containing an empty document
      """SELECT doc_id,
        |  CASE WHEN length(text) = 0 THEN 0 ELSE list_reduce(
        |    list_transform(range(1, length(text) + 1),
        |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
        |    (acc, c) -> (acc * 31 + c) % 1000000007) END AS rhash
        |FROM documents""".stripMargin),

    // -- event-time analytics --
    "q_events_tumbling" -> Sql(Seq("events"), SqlOps.eventsTumbling),
    "q_events_sessionize" -> Sql(Seq("events"), SqlOps.eventsSessionize, bench = BenchMark.Headline),
    "q_events_twa" -> Sql(Seq("events"), SqlOps.eventsTimeWeightedAvg),
    "q_survival_km" -> Sql(Seq("events"), SqlOps.survivalKm),
    "q_value_outliers" -> Sql(Seq("events"), SqlOps.valueOutliers),
    "q_range_join" -> Sql(Seq("events"), SqlOps.rangeJoinBands),
    "q_range_join_irregular" -> Sql(Seq("events"), SqlOps.rangeJoinIrregular),
    "q_events_funnel" -> Sql(Seq("events"), SqlOps.eventsFunnel),
    "q_orders_retention" -> Sql(Seq("orders"), SqlOps.ordersRetention),
    // hopping (overlapping) windows, interval union, CDC apply,
    // snapshot diff, and per-column profiling — the data-engineering
    // maintenance surface around the analytic core
    "q_events_hopping" -> Sql(Seq("events"), SqlOps.eventsHopping),
    "q_intervals_coverage" -> Sql(Seq("events"), SqlOps.intervalCoverage),
    // the user_id % 20 slice of the tiny sf0.001 events fixture
    // contains only user 0; sf0.01/sf0.1 carry nonzero ids
    "q_interval_overlap" -> Sql(Seq("events"), SqlOps.intervalOverlapJoin, excuses = Set("all_zero:user_id")),
    "q_changepoint" -> Sql(Seq("orders"), SqlOps.changepointRevenue),
    "q_ewma_forecast" -> Staged(Seq("orders"), SqlOps.ewmaForecast, owner = true),
    "q_anomaly_ewma" -> Staged(Seq("orders"), SqlOps.anomalyEwma),
    "q_cdc_apply" -> Sql(Seq("orders"), SqlOps.cdcApply),
    "q_agg_retract" -> Sql(Seq("orders"), SqlOps.aggRetract),
    "q_url_canonical" -> Sql(Seq("part"), SqlOps.urlCanonical),
    "q_split_temporal" -> Sql(Seq("events"), SqlOps.splitTemporal),
    "q_snapshot_diff" -> Sql(Seq("documents"), SqlOps.snapshotDiff),
    "q_merkle_ranges" -> Sql(Seq("documents"), SqlOps.merkleRanges),
    // the orders fixture has no NULLs in the profiled columns — an
    // honest data-quality zero (the audit exists to catch them)
    "q_profile_orders" -> Staged(Seq("orders"), SqlOps.profileOrders, prewarm = true,
      excuses = Set("all_zero:n_null")),
    "q_profile_orders_approx" -> Sql(Seq("orders"), SqlOps.profileOrdersApprox),
    "q_anomaly_mad" -> Staged(Seq("events"), SqlOps.anomalyMad, prewarm = true),
    "q_attribution" -> Sql(Seq("events"), SqlOps.attributionLastTouch),
    "q_user_growth" -> Sql(Seq("events"), SqlOps.userGrowth),
    "q_zipf_fit" -> Staged(Seq("documents"), SqlOps.zipfFit, prewarm = true),
    // every fixture word occurs at high frequency: no low-r counts →
    // the GT columns are structurally empty/NULL here; the planted
    // low-frequency path lives in the Good-Turing micro-oracle (r11)
    "q_good_turing" -> Staged(Seq("documents"), SqlOps.goodTuring,
      excuses = Set("all_zero:n_r", "all_zero:n_r_next",
        "all_null:r_star", "all_null:p_gt", "all_zero:p_unseen")),
    // Chao1 unseen-vocabulary richness + Good coverage off the same counts
    // the 31-word fixture vocabulary has every word in many docs —
    // zero singletons/doubletons is the true count; MicroOracleSpec's
    // planted-singleton oracle covers the positive path
    "q_chao1_richness" -> Staged(Seq("documents"), SqlOps.chao1Richness,
      excuses = Set("all_zero:singletons", "all_zero:doubletons")),
    // Hill tail-index of the token-frequency distribution (top-k order stats)
    "q_hill_tail" -> Staged(Seq("documents"), SqlOps.hillTail),
    "q_simpson_diversity" -> Staged(Seq("documents"), SqlOps.simpsonDiversity),
    "q_search_phrase" -> Staged(Seq("documents"), SqlOps.searchPhrase),
    "q_shard_rebalance" -> Sql(Seq("documents"), SqlOps.shardRebalance),
    "q_heaps_fit" -> Staged(Seq("documents"), SqlOps.heapsFit),
    // Gopher rule battery, CCNet LM-bucketing, tokenizer fertility,
    // histogram-sketch quantiles, and full power-iteration PCA
    "q_gopher_rules" -> Sql(Seq("documents"), SqlOps.gopherRules),
    // PII release-gate audit (Luhn / octet validation; zero baseline
    // on this PII-free fixture, planted paths in MicroOracleSpec)
    // the synthetic corpus carries no PII — the full kind domain is
    // emitted with zero rows by design (the r9 domain-left-join
    // rule); planted-PII specs cover every pattern
    "q_pii_scan" -> Staged(Seq("documents"), SqlOps.piiScan,
      excuses = Set(
        "all_zero:n_matches", "all_zero:n_docs", "all_zero:n_valid")),
    // unbiased pass@k per task (source=task, Gopher battery=checker)
    "q_eval_pass_at_k" -> Sql(Seq("documents"), SqlOps.evalPassAtK),
    "q_ccnet_buckets" -> Staged(Seq("documents"), SqlOps.ccnetBuckets, prewarm = true),
    "q_filter_kappa" -> Staged(Seq("documents"), SqlOps.filterKappa),
    // McNemar paired test over the same two gates: is the
    // disagreement directional or coin-flip noise?
    "q_filter_mcnemar" -> Staged(Seq("documents"), SqlOps.filterMcnemar),
    "q_tokenizer_fertility" -> Staged(Seq("documents"), SqlOps.tokenizerFertility),
    "q_hist_quantiles" -> Sql(Seq("events"), SqlOps.histogramQuantiles),
    "q_pca_power_iter" -> Frame(pcaPowerStaged,
      SqlOps.pcaPowerTimed.single(DuckDialect), bench = BenchMark.Steady),
    "q_pca_project" -> Staged(Seq("embeddings"), SqlOps.pcaProject),
    "q_pca_deflate" -> Frame(pcaDeflateStaged,
      SqlOps.pcaDeflate.single(DuckDialect), bench = BenchMark.Steady),
    "q_join_bloom_gate" -> Sql(Seq("orders", "lineitem"), SqlOps.joinBloomGate),
    // leakage-safe split: the staged cluster map feeds the `clusters`
    // view; the oracle re-derives it via the recursive-CTE closure
    "q_dedup_cluster_eval" -> Frame(
      (s, d) => {
        clustersStaged(s, d).createOrReplaceTempView("clusters")
        graft.Tables(s, d, "documents").createOrReplaceTempView("documents")
        s.sql(SqlOps.dedupClusterEval(SparkDialect))
      },
      s"""$CLUSTER_CTES
         |SELECT * FROM (
         |${SqlOps.dedupClusterEval(DuckDialect)}
         |)""".stripMargin),
    // modularity of three partitions of the candidate graph: the
    // cluster map (ceiling), source provenance, singletons (floor)
    "q_cluster_modularity" -> Frame(
      (s, d) => {
        clustersStaged(s, d).createOrReplaceTempView("clusters")
        buildStages(Seq("documents"), SqlOps.dedupMinhash)(s, d)
        s.sql(SqlOps.clusterModularity(SparkDialect))
      },
      // the minhash stage CTEs are rendered ONCE at top level and the
      // recursive closure reads `mh_cand` directly (CLUSTER_CTES nests
      // its own copy of the stage WITH, which would duplicate the
      // mh_sig alias) — body and closure provably share one edge set
      s"""WITH RECURSIVE ${SqlOps.dedupMinhash.stages.map { case (n, b) =>
             s"$n AS ${DuckDialect.cteMaterialize}(\n${b(DuckDialect)}\n)" }
           .mkString(",\n")},
         |${closureCtes("SELECT doc_a, doc_b FROM mh_cand", "doc_a", "doc_b", "doc_id")
           .stripPrefix("WITH RECURSIVE ")}
         |SELECT * FROM (
         |${SqlOps.clusterModularity(DuckDialect)}
         |)""".stripMargin),
    "q_split_leakage_safe" -> Frame(
      (s, d) => {
        clustersStaged(s, d).createOrReplaceTempView("clusters")
        graft.Tables(s, d, "documents").createOrReplaceTempView("documents")
        // the assignment is materialized once (two consumers: straddle
        // audit + rollup — inlined, each would re-run corpus⋈clusters)
        s.sql(SqlOps.splitLeakageSafe(SparkDialect)).localCheckpoint()
          .createOrReplaceTempView("split_a")
        s.sql(SqlOps.splitReport(SparkDialect))
      },
      s"""$CLUSTER_CTES,
         |split_a AS ${DuckDialect.cteMaterialize}(
         |${SqlOps.splitLeakageSafe(DuckDialect)}
         |)
         |SELECT * FROM (
         |${SqlOps.splitReport(DuckDialect)}
         |)""".stripMargin),
    // cluster-safe K-fold CV assignment + straddle/balance audit
    "q_split_kfold" -> Frame(
      (s, d) => {
        clustersStaged(s, d).createOrReplaceTempView("clusters")
        graft.Tables(s, d, "documents").createOrReplaceTempView("documents")
        s.sql(SqlOps.splitKfoldAssign(SparkDialect)).localCheckpoint()
          .createOrReplaceTempView("kfold_a")
        s.sql(SqlOps.splitKfoldReport(SparkDialect))
      },
      s"""$CLUSTER_CTES,
         |kfold_a AS ${DuckDialect.cteMaterialize}(
         |${SqlOps.splitKfoldAssign(DuckDialect)}
         |)
         |SELECT * FROM (
         |${SqlOps.splitKfoldReport(DuckDialect)}
         |)""".stripMargin),
    // quality-gate pass rate among real duplicates vs uniques + z
    "q_quality_vs_dup" -> Frame(
      (s, d) => {
        clustersStaged(s, d).createOrReplaceTempView("clusters")
        graft.Tables(s, d, "documents").createOrReplaceTempView("documents")
        s.sql(SqlOps.qualityVsDup(SparkDialect))
      },
      s"""$CLUSTER_CTES
         |SELECT * FROM (
         |${SqlOps.qualityVsDup(DuckDialect)}
         |)""".stripMargin),
    "q_text_bigram_lm" -> Staged(Seq("documents"), SqlOps.textBigramLm, prewarm = true),
    // Stupid-Backoff LM: held-out half scored under train-half counts
    "q_text_backoff_lm" -> Staged(Seq("documents"), SqlOps.textBackoffLm),
    "q_bigram_pmi" -> Staged(Seq("documents"), SqlOps.bigramPmi),
    "q_join_size_audit" -> Sql(Seq("orders", "lineitem"), SqlOps.joinSizeAudit),
    "q_metric_contribution" -> Sql(Seq("lineitem", "part"), SqlOps.metricContribution),
    "q_pareto_customers" -> Staged(Seq("orders"), SqlOps.paretoCustomers, prewarm = true),
    "q_text_readability" -> Sql(Seq("documents"), SqlOps.textReadability),
    // merge-of-partials vs a direct-aggregation oracle: the equality
    // proves the incremental-maintenance decomposition lossless
    "q_agg_incremental" -> Frame(sqlq(Seq("orders"), SqlOps.aggIncremental),
      // deliberately NOT the merge rendering: the direct aggregate over
      // all orders is the independent ground truth the partial-state
      // merge must reproduce
      """SELECT year(o_orderdate) * 100 + month(o_orderdate) AS month_key,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT)) AS BIGINT) AS revenue_cents,
        |  COUNT(*) AS n_orders
        |FROM orders GROUP BY year(o_orderdate) * 100 + month(o_orderdate)""".stripMargin),
    // join-view delta decomposition; the oracle runs the direct join
    "q_join_delta" -> Frame(sqlq(Seq("orders", "lineitem"), SqlOps.joinDelta),
      // the DIRECT join: equality proves the four-quadrant delta
      // decomposition lossless
      """SELECT o_orderpriority, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),
    // snapshot-to-snapshot source-mix KL contributions
    "q_source_kl" -> Sql(Seq("documents"), SqlOps.sourceKl),
    // weekly-structure diagnostic: daily-revenue autocorrelation at
    // lags 1..7 from exact integer moments
    "q_acf_revenue" -> Sql(Seq("orders"), SqlOps.acfRevenue),
    // robust trend: median of pairwise day slopes (calendar-bounded
    // pair set) + median-residual intercept
    "q_theilsen_revenue" -> Sql(Seq("orders"), SqlOps.theilSenRevenue),
    "q_seasonality_dow" -> Sql(Seq("orders"), SqlOps.seasonalityDow),
    "q_ols_revenue" -> Sql(Seq("orders"), SqlOps.olsRevenue),
    "q_forecast_skill" -> Staged(Seq("orders"), SqlOps.forecastSkill),
    "q_dau_mau" -> Sql(Seq("events"), SqlOps.dauMauStickiness),
    "q_power_analysis" -> Sql(Seq("events"), SqlOps.powerAnalysis),
    "q_label_noise" -> Sql(Seq("documents"), SqlOps.labelNoise),
    "q_cramers_v" -> Sql(Seq("documents"), SqlOps.cramersV),
    "q_dedup_winnow" -> Staged(Seq("documents"), SqlOps.dedupWinnow),
    "q_anomaly_deseasonal" -> Sql(Seq("orders"), SqlOps.anomalyDeseasonal),
    "q_seasonal_strength" -> Sql(Seq("orders"), SqlOps.seasonalStrength),
    // the revenue series is white at fixture scale — the statistic
    // columns are live, the reject flag is honestly 0
    "q_ljung_box" -> Sql(Seq("orders"), SqlOps.ljungBox, excuses = Set("all_zero:reject_white_noise")),
    "q_pmi_spectral" -> Staged(Seq("documents"), SqlOps.pmiSpectral),
    // the trend TEST next to the trend estimator: tie-corrected
    // Mann-Kendall with an exact-integer 5% verdict
    // the trend test's S/z columns are live, the 5% significance
    // flag is honestly 0 on the fixture series
    "q_mannkendall_revenue" -> Sql(Seq("orders"), SqlOps.mannKendallRevenue,
      excuses = Set("all_zero:significant")),
    // fourth approx-sketch contract: engine percentile sketch vs the
    // exact value-cardinality rank, only the bound boolean compared
    "q_price_percentile_approx" -> Sql(Seq("orders"), SqlOps.pricePercentileApprox),
    // concentration + robust trend + inequality over the same
    // exact-cents revenue facts
    "q_revenue_hhi" -> Sql(Seq("orders", "customer", "nation"), SqlOps.revenueHhi),
    "q_rolling_median_revenue" -> Sql(Seq("orders"), SqlOps.rollingMedianRevenue),
    // bucket-decomposed global value rank; oracle = the single window
    "q_revenue_gini" -> Frame(sqlq(Seq("orders"), SqlOps.revenueGini),
      // the single global-window form: equality proves the
      // bucket-decomposed rank exact
      """WITH cust AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 1.0e2 + 5.0e-1) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey
        |),
        |r AS (
        |  SELECT cents,
        |    CAST(ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS BIGINT) AS rk
        |  FROM cust
        |),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS t,
        |    SUM(CAST(rk AS DECIMAL(38,0)) * cents) AS rx
        |  FROM r
        |)
        |SELECT n AS n_customers,
        |  CASE WHEN n = 0 OR t = 0 THEN NULL
        |       ELSE FLOOR((2.0e0 * CAST(rx AS DOUBLE) - (CAST(n AS DOUBLE) + 1.0e0) * t)
        |                  / (CAST(n AS DOUBLE) * t) * 1.0e6 + 5.0e-1) / 1.0e6
        |  END AS gini
        |FROM s""".stripMargin),
    // source→lang functional-dependency profile
    // source → lang genuinely fails in the fixture (5 langs/source) —
    // an honest audit negative; MicroOracleSpec plants a holding FD (r13)
    "q_fd_audit" -> Sql(Seq("documents"), SqlOps.fdAudit, excuses = Set("all_zero:fd_holds")),
    // containment near-dup off the same staged shingle index, and the
    // candidate-graph triangle diagnostic off the staged band pairs
    "q_dedup_containment" -> Staged(Seq("documents"), SqlOps.dedupContainment, prewarm = true),
    "q_graph_triangles" -> Staged(Seq("documents"), SqlOps.graphTriangles, prewarm = true),
    "q_fuzzy_join" -> Staged(Seq("documents"), SqlOps.fuzzyJoin, prewarm = true),
    "q_chi_square" -> Sql(Seq("events"), SqlOps.chiSquare),
    // the events fixture is volume-stable by construction; the alarm
    // path is covered by the planted-shift recursion test (r4)
    "q_cusum_drift" -> Sql(Seq("events"), SqlOps.cusumDrift, excuses = Set("all_zero:n_alarm_days")),
    "q_event_transitions" -> Sql(Seq("events"), SqlOps.eventTransitions),
    "q_mutual_info" -> Sql(Seq("documents"), SqlOps.mutualInfo),
    "q_corpus_split" -> Sql(Seq("documents"), SqlOps.corpusSplit),
    "q_distinct_two_phase" -> Sql(Seq("events"), SqlOps.distinctTwoPhase),
    "q_zorder_layout" -> Sql(Seq("orders"), SqlOps.zorderLayout),
    "q_trend_by_brand" -> Sql(Seq("lineitem", "part"), SqlOps.trendByBrand),
    "q_skyline_orders" -> Staged(Seq("orders"), SqlOps.skylineOrders, prewarm = true),
    "q_graph_degrees" -> Staged(Seq("documents"), SqlOps.graphDegrees, prewarm = true),

    // -- multimodal columns --
    "q_multimodal_meta" -> Sql(Seq("documents"), SqlOps.multimodalMeta),
    "q_multimodal_resize" -> Sql(Seq("documents"), SqlOps.multimodalResize),
    "q_multimodal_audio" -> Sql(Seq("documents"), SqlOps.multimodalAudioWindows),
    // 8-point DFT band energies over the same windows (host-exact twiddles)
    "q_multimodal_spectrum" -> Sql(Seq("documents"), SqlOps.multimodalSpectrum),
    // batched mapPartitions decode; dims are SQL-checkable, features not
    "q_multimodal_decode" -> Frame(
      (s, d) => {
        import s.implicits._
        graft.ops.Multimodal
          .decodeBatched(graft.ops.Multimodal.asMedia(graft.Tables.documents(s, d)))
          .toDF().drop("features")
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) % 317 + 16 AS INT) AS width,
        |  CAST(octet_length(encode(text)) % 211 + 16 AS INT) AS height,
        |  CAST(octet_length(encode(text)) % 3 + 1 AS INT) AS channels,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes
        |FROM documents""".stripMargin),
    // frame sampling of video payloads (frame bytes dropped: chunk
    // geometry is SQL-checkable, the binary itself is not)
    "q_multimodal_frames" -> Frame(
      (s, d) =>
        graft.ops.Multimodal
          .sampleFrames(graft.ops.Multimodal.asMedia(graft.Tables.documents(s, d)))
          .drop("frame")
          .orderBy("doc_id", "frame_no"),
      """SELECT doc_id,
        |  CAST(unnest(range(0,
        |    CAST(CEIL(CAST(octet_length(encode(text)) AS DOUBLE) / 64) AS BIGINT), 4)) AS INT) AS frame_no
        |FROM documents WHERE doc_id % 3 = 2""".stripMargin),
    // perceptual-hash image dedup over the two-snapshot media corpus:
    // every payload appears twice under different ids (and different
    // claimed mimes — the hash is content-addressed, so the pair still
    // collides). The oracle reproduces the stub byte-grid hash in pure
    // SQL; the real-pixel 8×8 grid path is covered by MultimodalSpec.
    "q_image_phash" -> Frame(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("phash")
        mediaPhashStaged(s, d)
          .withColumn("n_dups", count(lit(1)).over(w))
          .withColumn("keep_id", min("doc_id").over(w))
      },
      s"""$PHASH_CTES
        |SELECT doc_id, phash,
        |  CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS n_dups,
        |  MIN(doc_id) OVER (PARTITION BY phash) AS keep_id
        |FROM ph""".stripMargin, owner = true),
    // banded hamming near-dup over the same hashes (recall-approximate
    // bands, exact one-sided verify — the simhash pattern on images)
    "q_dedup_phash_near" -> Frame(
      (s, d) => {
        mediaPhashStaged(s, d).createOrReplaceTempView("phash_tbl")
        s.sql(SqlOps.phashNear(SparkDialect))
      },
      s"""$PHASH_CTES,
        |phash_tbl AS (SELECT doc_id, phash FROM ph)
        |SELECT * FROM (
        |${SqlOps.phashNear(DuckDialect)}
        |)""".stripMargin),
  )

  private def distinctRows(rows: (String, Query)*): Map[String, Query] = {
    val dups = rows.groupBy(_._1).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"query names registered twice: ${dups.mkString(", ")}")
    rows.toMap
  }
}
