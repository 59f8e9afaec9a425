package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's breach adjudication (r18 verdict ask #5): the
  * contention-vs-regression call the judge and builder previously made
  * by hand from committed peer runs, now a function in the artifact;
  * and the [[Probe]] harness every bench and probe main times with. */
class BenchAdjudicationSpec extends AnyFunSuite {

  private val baseline = Map("q_fast" -> 1.0, "q_slow" -> 4.0)

  test("a planted slowdown breaching in every run classifies as regression") {
    // the planted-sleep scenario: current run 2.5x, both fresh-JVM
    // peers also past 2x — the slowdown is in the code, not the box
    val ratios = Map("q_fast" -> 2.5, "q_slow" -> 0.9)
    val peers = Seq(Map("q_fast" -> 2.6, "q_slow" -> 3.9),
      Map("q_fast" -> 2.4, "q_slow" -> 4.1))
    val v = Bench.adjudicateBreaches(ratios, peers, baseline)
    assert(v == Map("q_fast" -> "regression"),
      "only the breaching key is adjudicated, and as a regression")
  }

  test("a breach a MAJORITY of fresh peers measure at-pin is contention") {
    val ratios = Map("q_fast" -> 2.7)
    // both peers at/near pin, none breaching -> the box, not the code
    val peers = Seq(Map("q_fast" -> 0.95), Map("q_fast" -> 1.1))
    assert(Bench.adjudicateBreaches(ratios, peers, baseline) ==
      Map("q_fast" -> "contention"))
  }

  test("a lone at-pin peer among breaching peers is inconclusive, not contention") {
    // the r19 ADVICE hazard: committed peers can lag the build, so ONE
    // stale at-pin artifact must not relabel a reproducing regression
    val ratios = Map("q_fast" -> 2.7)
    val peers = Seq(Map("q_fast" -> 0.95), Map("q_fast" -> 2.9))
    assert(Bench.adjudicateBreaches(ratios, peers, baseline) ==
      Map("q_fast" -> "inconclusive"))
  }

  test("majority at-pin but a breaching minority is still inconclusive") {
    val ratios = Map("q_fast" -> 2.7)
    val peers = Seq(Map("q_fast" -> 0.9), Map("q_fast" -> 1.0),
      Map("q_fast" -> 2.5))
    assert(Bench.adjudicateBreaches(ratios, peers, baseline) ==
      Map("q_fast" -> "inconclusive"))
  }

  test("peers between the bands are inconclusive; absent peers are no_peer") {
    val ratios = Map("q_fast" -> 2.1, "q_slow" -> 9.0)
    // q_fast: one peer at 1.6x (neither at-pin nor breaching) ->
    // inconclusive; q_slow: no peer measured it -> no_peer
    val peers = Seq(Map("q_fast" -> 1.6))
    assert(Bench.adjudicateBreaches(ratios, peers, baseline) ==
      Map("q_fast" -> "inconclusive", "q_slow" -> "no_peer"))
  }

  test("no breaches -> empty verdict map regardless of peers") {
    assert(Bench.adjudicateBreaches(Map("q_fast" -> 1.9), Nil, baseline)
      .isEmpty)
  }

  test("readQueriesMap parses a bench artifact and degrades on junk") {
    val dir = new java.io.File("target/tmp-benchadj")
    dir.mkdirs()
    val ok = new java.io.File(dir, "peer.json")
    java.nio.file.Files.write(ok.toPath,
      """{"metric":"total","queries":{"q1":1.25,"q2":3}}"""
        .getBytes("UTF-8"))
    assert(Bench.readQueriesMap(ok.getPath)
      .contains(Map("q1" -> 1.25, "q2" -> 3.0)))
    val bad = new java.io.File(dir, "bad.json")
    java.nio.file.Files.write(bad.toPath, "not json".getBytes("UTF-8"))
    assert(Bench.readQueriesMap(bad.getPath).isEmpty)
    assert(Bench.readQueriesMap(dir.getPath + "/absent.json").isEmpty)
  }

  test("Probe.reps reads -1 for a throwing rep and still runs the later reps") {
    var ran = 0
    val ts = Probe.reps(TestSession.spark, 3, "[test] planted") {
      ran += 1
      if (ran == 2) sys.error("planted failure")
    }
    assert(ran == 3)
    assert(ts.length == 3 && ts(1) == -1.0 && ts(0) >= 0 && ts(2) >= 0, ts)
  }

  test("Probe.reps releases a frame persisted in rep 1 before rep 2") {
    val spark = TestSession.spark
    import spark.implicits._
    val df = (1 to 100).toDF("x")
    var rep = 0
    var heldInRep2 = -1
    Probe.reps(spark, 2, "[test] persist") {
      rep += 1
      if (rep == 1) df.persist().count()
      else heldInRep2 = spark.sparkContext.getPersistentRDDs.size
    }
    assert(heldInRep2 == 0)
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("Probe.num reads every json4s number and no string") {
    import org.json4s._
    assert(Probe.num(JInt(3)).contains(3.0))
    assert(Probe.num(JDecimal(BigDecimal("1.25"))).contains(1.25))
    assert(Probe.num(JDouble(0.5)).contains(0.5))
    assert(Probe.num(JString("1.0")).isEmpty)
  }
}
