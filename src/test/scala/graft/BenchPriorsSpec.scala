package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's quiet-history priors apply only to an artifact measured at
  * the same scale factor and core count. */
class BenchPriorsSpec extends AnyFunSuite {
  private val artifact =
    """{"sf":"/data/sf0.1","queries":{"q_a":1.5,"q_b":-1},""" +
      """"queries_steady":{"q_a":0.25,"q_c":0.5},"cpus":8}"""

  test("same sf and cpus: the named map, failed (-1) cells dropped") {
    assert(Bench.priorsFrom(artifact, "queries", "/data/sf0.1", 8) ===
      Right(Map("q_a" -> 1.5)))
    assert(Bench.priorsFrom(artifact, "queries_steady", "/data/sf0.1", 8) ===
      Right(Map("q_a" -> 0.25, "q_c" -> 0.5)))
  }

  test("another sf: no priors") {
    assert(Bench.priorsFrom(artifact, "queries", "/data/sf0.01", 8) ===
      Left("a different sf"))
  }

  test("other cpus: no priors") {
    assert(Bench.priorsFrom(artifact, "queries", "/data/sf0.1", 32) ===
      Left("different cpus"))
    assert(Bench.priorsFrom(artifact.replace(""","cpus":8""", ""), "queries",
      "/data/sf0.1", 8) === Left("different cpus"))
  }
}
