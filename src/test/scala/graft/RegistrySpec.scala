package graft

import org.scalatest.funsuite.AnyFunSuite

/** Names kept outside the registry must name registered queries: a typo
  * in an allowlist excuses nothing and a typo in the owner list reorders
  * nothing, silently. */
class RegistrySpec extends AnyFunSuite {
  private val registered = SparkEntry.queries.keySet

  test("stageOwners, allowEmpty and allowDegenerate name only registered queries") {
    val named = Seq(
      "stageOwners" -> SparkEntry.stageOwners.toSet,
      "allowEmpty" -> SparkEntry.allowEmpty,
      "allowDegenerate" -> SparkEntry.allowDegenerate.keySet)
    for ((list, names) <- named)
      assert((names -- registered).isEmpty, s"$list names unregistered queries: ${names -- registered}")
  }
}
