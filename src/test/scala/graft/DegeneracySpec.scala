package graft

import org.apache.spark.sql.DataFrame

/** [[Verify.degeneracy]] is the only detector behind Verify's
  * degeneracy gate; these cases pin each flag kind on small in-memory
  * frames, and the exact-string match of a row's excuses. */
class DegeneracySpec extends SparkSpec {
  private def flags(rows: String, cols: String): Seq[String] = {
    val df: DataFrame = spark.sql(s"SELECT * FROM VALUES $rows AS t($cols)")
    Verify.degeneracy(df, df.count())
  }

  test("a NULL-only column is flagged all_null, not all_zero") {
    assert(flags("(1, CAST(NULL AS BIGINT)), (2, NULL)", "id, c") === Seq("all_null:c"))
  }

  test("a numeric all-zero column is flagged all_zero") {
    assert(flags("(1, 0.0), (2, 0.0)", "id, c") === Seq("all_zero:c"))
  }

  test("a string column of \"0\" is not flagged all_zero") {
    assert(flags("(1, '0'), (2, '0')", "id, c") === Nil)
  }

  test("two or more identical rows are all_constant, a single row is not") {
    assert(flags("(1, 'a'), (1, 'a')", "id, c") === Seq("all_constant"))
    assert(flags("(1, 'a'), (1, 'a'), (1, 'a')", "id, c") === Seq("all_constant"))
    assert(flags("(1, 'a')", "id, c") === Nil)
  }

  test("zero rows and a clean frame give no flags") {
    val empty = spark.sql("SELECT * FROM VALUES (1, 0) AS t(id, c) WHERE id > 1")
    assert(Verify.degeneracy(empty, empty.count()) === Nil)
    assert(flags("(1, 'a', 0), (2, 'b', 3)", "id, c, n") === Nil)
  }

  test("a row's excuses match flag strings exactly") {
    val flagged = flags("(1, CAST(NULL AS BIGINT)), (2, NULL)", "id, c")
    def row(excuses: String*) = SparkEntry.Sql(Nil, _ => "", excuses = excuses.toSet)
    assert(Verify.excused(row("all_zero:c"), flagged) === ((Nil, Seq("all_null:c"))))
    assert(Verify.excused(row("c"), flagged) === ((Nil, Seq("all_null:c"))))
    assert(Verify.excused(row("all_null:c"), flagged) === ((Seq("all_null:c"), Nil)))
  }
}
