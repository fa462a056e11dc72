package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's quiet-history priors apply only to an artifact measured at
  * the same scale factor and core count. */
class BenchPriorsSpec extends AnyFunSuite {
  private val artifact =
    """{"sf":"/data/sf0.1","queries":{"q_a":1.5,"q_b":-1},""" +
      """"queries_steady":{"q_a":0.25,"q_c":0.5},"queries_load":{"q_a":null},""" +
      """"first_suspect":["q_a","q_d"],"errors":{},"cpus":8}"""

  test("same sf and cpus: the named map, failed (-1) cells dropped") {
    val p = Bench.priorsFrom(artifact, "/data/sf0.1", 8)
    assert(p.map(_.first) === Right(Map("q_a" -> 1.5)))
    assert(p.map(_.steady) === Right(Map("q_a" -> 0.25, "q_c" -> 0.5)))
  }

  test("same sf and cpus: the prior run's residual first_suspect set, from the same parse") {
    assert(Bench.priorsFrom(artifact, "/data/sf0.1", 8).map(_.suspects) ===
      Right(Set("q_a", "q_d")))
    assert(Bench.priorsFrom(artifact.replace(""""q_a","q_d"""", ""), "/data/sf0.1", 8)
      .map(_.suspects) === Right(Set.empty))
  }

  test("another sf: no priors") {
    assert(Bench.priorsFrom(artifact, "/data/sf0.01", 8) ===
      Left("a different sf"))
  }

  test("other cpus: no priors") {
    assert(Bench.priorsFrom(artifact, "/data/sf0.1", 32) ===
      Left("different cpus"))
    assert(Bench.priorsFrom(artifact.replace(""","cpus":8""", ""),
      "/data/sf0.1", 8) === Left("different cpus"))
  }
}
