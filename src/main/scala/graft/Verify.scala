package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, countDistinct, when, lit}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Per-query DEGENERACY audit over the written result (the
    * q_ab_test lesson, generalized): an oracle hash-match proves the
    * two engines agree, not that the result says anything — q_ab_test
    * shipped a saturated conversion (pooled variance 0, z NULL) for
    * eight rounds, oracle-green the whole time, because nothing
    * systematic looked at the VALUES. Flags, per query:
    *  - `all_null:<col>` — a column with rows but no values (the
    *    z-NULL failure mode verbatim);
    *  - `all_zero:<col>` — a numeric column whose every value is 0
    *    (a rate/metric column that never fires);
    *  - `all_constant` — ≥2 rows but every column single-valued (the
    *    result is one row stuttered).
    * Exceptions are each row's [[SparkEntry.Query.excuses]], with a
    * comment on the row; excused hits are still REPORTED (under
    * `allowlisted`) so the artifact shows what was excused. One
    * aggregate pass per query over the (small, already-written)
    * result — countDistinct ignores NULLs, so all-NULL reads as
    * distinct 0. */
  private[graft] def degeneracy(df: org.apache.spark.sql.DataFrame, rows: Long): Seq[String] = {
    if (rows == 0) return Nil
    val fields = df.schema.fields.toSeq
    val numeric = fields.filter(_.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }).map(_.name).toSet
    val aggs = fields.zipWithIndex.flatMap { case (f, i) =>
      val c = col(df.columns(i))
      Seq(countDistinct(c).as(s"d__$i"), count(c).as(s"n__$i")) ++
        (if (numeric(f.name))
           Seq(count(when(c =!= lit(0), 1)).as(s"z__$i"))
         else Nil)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    def g(n: String): Long =
      if (r.schema.fieldNames.contains(n)) r.getAs[Long](n) else -1L
    val perCol = fields.zipWithIndex.flatMap { case (f, i) =>
      val (d, n, z) = (g(s"d__$i"), g(s"n__$i"), g(s"z__$i"))
      (if (n == 0) Seq(s"all_null:${f.name}") else Nil) ++
        (if (numeric(f.name) && n > 0 && z == 0) Seq(s"all_zero:${f.name}") else Nil)
    }
    val allConstant = rows > 1 &&
      fields.indices.forall(i => g(s"d__$i") <= 1)
    perCol ++ (if (allConstant) Seq("all_constant") else Nil)
  }

  /** `flags` split into (excused, flagged) by `q`'s row. Exact match
    * only: a bare column name would excuse EVERY flag kind for that
    * column (an all_zero excuse silently covering a later all_NULL
    * regression). */
  private[graft] def excused(q: SparkEntry.Query, flags: Seq[String]): (Seq[String], Seq[String]) =
    flags.partition(q.excuses)

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (local dev)]
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    val rowCounts = scala.collection.mutable.Map.empty[String, Long]
    val degFlags = scala.collection.mutable.Map.empty[String, Seq[String]]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // stale-output guard: an analysis-time failure throws BEFORE the
      // overwrite deletes anything, so a reused outDir would otherwise
      // keep the previous run's parquet and the compare would silently
      // pass on stale results — delete the target first
      try org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$outDir/$name"))
      catch { case scala.util.control.NonFatal(_) => () }
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // row-count sidecar: a 0-row result that hash-matches a 0-row
        // oracle is a VACUOUS pass (r9 shipped one — q_cms_topusers
        // proved only that nobody was frequent). Count the written
        // parquet (footer-cheap) so emptiness is visible in the
        // artifact, and flag every empty query.
        val written = spark.read.parquet(s"$outDir/$name")
        val rows = written.count()
        rowCounts(name) = rows
        val flags = degeneracy(written, rows)
        if (flags.nonEmpty) degFlags(name) = flags
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val flaggedEmpty = rowCounts.collect { case (n, 0L) => n }.toSeq.sorted
    flaggedEmpty.foreach { n =>
      System.err.println(
        s"[verify] VACUOUS: $n returned 0 rows — its oracle pass proves nothing")
    }
    // degeneracy split: excused hits stay visible but don't flag
    val (degAllowed, degFlagged) = degFlags.toSeq.sortBy(_._1).map {
      case (name, flags) =>
        val (ok, bad) = excused(SparkEntry.registry(name), flags)
        (name -> ok, name -> bad)
    }.unzip
    val degBad = degFlagged.filter(_._2.nonEmpty)
    degBad.foreach { case (n, fs) =>
      System.err.println(
        s"[verify] DEGENERATE: $n — ${fs.mkString(", ")} (not in " +
          "its row's excuses; an oracle pass on a constant/" +
          "all-NULL metric proves nothing)")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // name → rows for every query that ran, plus the flagged-empty
    // list, so a vacuous (empty-vs-empty) oracle match can never hide
    // in the artifact again.
    val countsJson =
      rowCounts.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: $v" }
        .mkString("{\"rows\": {", ",", "}, ") +
      flaggedEmpty.map(q).mkString("\"flagged_empty\": [", ",", "]}")
    Files.writeString(Paths.get(s"$outDir/row_counts.json"), countsJson)
    // the degeneracy sidecar: `flagged` must stay empty (the gate);
    // `allowlisted` shows what was excused; each excuse's reason is
    // the comment on its SparkEntry.registry row
    def degMap(xs: Seq[(String, Seq[String])]): String =
      xs.map { case (n, fs) =>
        s"${q(n)}: ${fs.map(q).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/degeneracy.json"),
      s"""{"flagged": ${degMap(degBad)}, "allowlisted": ${degMap(degAllowed.filter(_._2.nonEmpty))}}""")
    spark.stop()
  }
}
