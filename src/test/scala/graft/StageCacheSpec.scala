package graft

/** Per-JVM stage cache lifecycle: build → cleanup (always-run) → rebuild. */
class StageCacheSpec extends SparkSpec {

  test("cleanupStages deletes every materialized stage dir and the next query rebuilds") {
    // force at least one staged artifact into existence
    val before = SparkEntry.queries("q_dedup_minhash")(spark, sf001).count()
    val stageRoot = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_stage")
    assert(stageRoot.exists() && stageRoot.listFiles().nonEmpty,
      "expected stage dirs on disk after a staged query")
    SparkEntry.cleanupStages()
    assert(!stageRoot.exists(),
      "cleanup must remove the stage root, stale prior-JVM dirs included")
    // cache memo cleared → the same query transparently rebuilds
    assert(SparkEntry.queries("q_dedup_minhash")(spark, sf001).count() === before)
  }

  test("a stage dir without its _SUCCESS marker is rebuilt, not reused") {
    val before = SparkEntry.queries("q_dedup_minhash")(spark, sf001).count()
    val stageRoot = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_stage")
    val markers = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(stageRoot).filter(_.getName == "_SUCCESS")
    }
    assert(markers.nonEmpty, "committed parquet stages must carry _SUCCESS")
    // simulate a truncated/in-flight overwrite: the commit marker is
    // gone but the dir (and the JVM memo entry) remain
    markers.foreach(m => assert(m.delete()))
    assert(SparkEntry.queries("q_dedup_minhash")(spark, sf001).count() === before,
      "incomplete stage dirs must transparently rebuild")
    val rewritten = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(stageRoot).count(_.getName == "_SUCCESS")
    }
    assert(rewritten === markers.size, "rebuild must recommit every stage")
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
      case SparkEntry.Staged(_, op) => op.stages.map(_._1)
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
