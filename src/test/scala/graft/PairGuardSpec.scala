package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: the LSH dedup family has one exact shingle-Jaccard
  * verify (`Dedup.verifiedJaccard`, the only `size(array_union(`) and
  * one i<j pair explode (`CappedSet.explode_pairs`, the only
  * `transform(slice(`), so no caller grows its own copy of either
  * again. Comments do not count. */
class PairGuardSpec extends AnyFunSuite {
  test("one shingle-Jaccard verify in Dedup.scala, one pair explode in CappedSet.scala") {
    val files = SourceScan.mainSources
    val verifies = SourceScan.hits(files, "size(array_union(")
    val explodes = SourceScan.hits(files, "transform(slice(")
    assert(verifies.length == 1 && explodes.length == 1 &&
      verifies.forall(_.contains("operators/Dedup.scala")) &&
      explodes.forall(_.contains("functions/CappedSet.scala")),
      s"verifies:\n${verifies.mkString("\n")}\npair explodes:\n${explodes.mkString("\n")}")
  }
}
