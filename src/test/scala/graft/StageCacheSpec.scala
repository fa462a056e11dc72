package graft

/** Per-JVM stage cache lifecycle on the tmp tier: build → cleanup
  * (always-run; this JVM's and dead JVMs' stage dirs only) → rebuild. */
class StageCacheSpec extends SparkSpec {

  test("cleanupStages deletes every materialized stage dir and the next query rebuilds") {
    // force at least one staged artifact into existence; this JVM
    // materializes every stage under its own tmp-tier dir
    val before = SparkEntry.queries("q_dedup_minhash")(spark, sf001).count()
    val own = SparkEntry.ownTmpStageDir
    val materialized = Option(own.listFiles()).toSeq.flatten
    assert(materialized.nonEmpty, "expected stage dirs on disk after a staged query")
    SparkEntry.cleanupStages()
    assert(materialized.forall(!_.exists()), "cleanup must remove every stage dir this JVM built")
    assert(!own.exists(), "cleanup must remove this JVM's stage dir")
    // cache memo cleared → the same query transparently rebuilds
    assert(SparkEntry.queries("q_dedup_minhash")(spark, sf001).count() === before)
  }

  test("cleanupStages keeps a live JVM's stage dir and removes it once that JVM is gone") {
    // another process's subdirectory of the shared tmp tier, holding a
    // committed stage
    val other = new ProcessBuilder("sleep", "60").start()
    val dir = new java.io.File(SparkEntry.ownTmpStageDir.getParentFile,
      SparkEntry.jvmStageTag(other.toHandle))
    try {
      val marker = new java.io.File(dir, "ds/stage/_SUCCESS")
      assert(marker.getParentFile.mkdirs() && marker.createNewFile())
      SparkEntry.cleanupStages()
      assert(marker.exists(), "cleanup must never touch a live JVM's stages")
      other.destroy()
      other.waitFor()
      SparkEntry.cleanupStages()
      assert(!dir.exists(), "cleanup must remove the stages of a JVM that is gone")
    } finally {
      other.destroyForcibly()
      org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
  }

  test("a stage dir without its _SUCCESS marker is rebuilt, not reused") {
    val before = SparkEntry.queries("q_dedup_minhash")(spark, sf001).count()
    def markers(): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(SparkEntry.ownTmpStageDir).filter(_.getName == "_SUCCESS")
    }
    val committed = markers()
    assert(committed.nonEmpty, "committed parquet stages must carry _SUCCESS")
    // simulate a truncated/in-flight overwrite: the commit marker is
    // gone but the dir (and the JVM memo entry) remain
    committed.foreach(m => assert(m.delete()))
    assert(SparkEntry.queries("q_dedup_minhash")(spark, sf001).count() === before,
      "incomplete stage dirs must transparently rebuild")
    assert(markers().size === committed.size, "rebuild must recommit every stage")
  }

  test("a committed tmp-tier stage is adopted, not rebuilt, after the JVM memos reset") {
    // start from no stages, so this case does not depend on the state
    // the cases above leave behind
    SparkEntry.cleanupStages()
    val run = SparkEntry.queries("q_dedup_minhash")
    val before = run(spark, sf001).collect().map(_.toString).sorted.toSeq
    val marker = new java.io.File(SparkEntry.ownTmpStageDir,
      s"${sf001.hashCode.toHexString}/mh_sig/_SUCCESS")
    assert(marker.exists(), "the staged query must commit its signature stage")
    val builtAt = marker.lastModified()
    // what a fresh JVM's memos look like; the committed dirs stay
    SparkEntry.resetJvmMemos()
    assert(run(spark, sf001).collect().map(_.toString).sorted.toSeq === before)
    assert(marker.lastModified() === builtAt,
      "a committed stage dir on the tmp tier must be adopted, not rewritten")
  }

  test("stage names are globally unique per builder: no two ops may claim one name") {
    // The stage cache is keyed by (dataset, NAME) alone — two StagedOps
    // publishing different SQL under one name silently serve whichever
    // built first to the other's consumers (bit q_label_prop when
    // linkPrediction reused labelProp's 'lp_edges' for a different
    // graph: the LPA tests read the part co-purchase edges). Every
    // StagedOp member of SqlOps is enumerated by reflection; a name may
    // recur ONLY with the byte-identical builder rendering, in each
    // dialect.
    val ops = graft.ops.SqlOps.getClass.getMethods.toSeq
      .filter(m => m.getReturnType == classOf[graft.ops.StagedOp] &&
        m.getParameterCount == 0)
      .map(m => m.getName -> m.invoke(graft.ops.SqlOps).asInstanceOf[graft.ops.StagedOp])
    assert(ops.size > 30, s"reflection must see the StagedOp surface, got ${ops.size}")
    val reflected = ops.flatMap(_._2.stages.map(_._1)).toSet
    val registered = SparkEntry.registry.values.collect {
      case q: SparkEntry.Staged => q.op.stages.map(_._1)
    }.flatten.toSet
    assert((registered -- reflected).isEmpty,
      s"stages of registered Staged queries that reflection missed: ${registered -- reflected}")
    val defs = ops.flatMap { case (op, s) =>
      s.stages.map { case (name, build) =>
        (name, build(graft.ops.SparkDialect), build(graft.ops.DuckDialect), op)
      }
    }
    val byName = defs.groupBy(_._1)
    info(s"${ops.size} StagedOps, ${defs.size} stage definitions, ${byName.size} stage names")
    val clashes = byName.collect {
      case (name, ds) if ds.map(_._2).distinct.size > 1 || ds.map(_._3).distinct.size > 1 =>
        s"$name claimed with different SQL by: ${ds.map(_._4).distinct.mkString(", ")}"
    }
    assert(clashes.isEmpty, clashes.mkString("\n"))
  }
}
