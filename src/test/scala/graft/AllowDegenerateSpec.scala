package graft

/** An SF-edge excuse on a registry row excuses a zero column at one
  * oracle SF only because a sibling SF exercises it. Each excuse's
  * comment names that sibling; this spec runs the query there and
  * asserts the column is live, so the excuse cannot outlive its
  * evidence. */
class AllowDegenerateSpec extends SparkSpec {
  private val sf01 = s"${new java.io.File(sf001).getParent}/sf0.01"

  /** The non-NULL values of `column` in query `q`'s result at sf0.01,
    * after checking that the excuse being justified is still on its row. */
  private def valuesAtSf01(q: String, column: String): Seq[Double] = {
    assert(SparkEntry.registry(q).excuses.contains(s"all_zero:$column"),
      s"$q no longer excuses all_zero:$column; drop its case here")
    SparkEntry.queries(q)(spark, sf01).select(column).collect().toSeq
      .filterNot(_.isNullAt(0)).map(_.getAs[Number](0).doubleValue)
  }

  test("q_concurrency_peak: base is nonzero at sf0.01") {
    assert(valuesAtSf01("q_concurrency_peak", "base").exists(_ != 0.0))
  }

  test("q_interval_overlap: user_id is nonzero at sf0.01") {
    assert(valuesAtSf01("q_interval_overlap", "user_id").exists(_ != 0.0))
  }

  test("q_t_closeness: above_t is 1 in some row at sf0.01") {
    assert(valuesAtSf01("q_t_closeness", "above_t").contains(1.0))
  }
}
