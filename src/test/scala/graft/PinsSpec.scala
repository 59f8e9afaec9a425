package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Pins
import graft.operators.{Dedup, Routing, Similarity, Warehouse}

/** The pin/release rule of [[Pins]] and the leak regression it closes:
  * after an operator returns, the only blocks still pinned are ones its
  * result reads. */
class PinsSpec extends AnyFunSuite {
  import TestSession._

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the RDDs a frame reads: checkpoint leaves (subqueries
    * included) and their lineage. */
  private def reads(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(rdd: RDD[_]): Unit =
      if (seen.add(rdd.id)) rdd.dependencies.foreach(d => walk(d.rdd))
    SparkBridge.checkpointRdds(df).foreach(walk)
    seen.toSet
  }

  private def idsOf(df: DataFrame): Set[Int] =
    SparkBridge.checkpointRdds(df).map(_.id).toSet

  private def frame(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7).as("k"))

  /** Run `op` on a clean block manager, materialize the result, and
    * assert every RDD still pinned is one the result reads. */
  private def assertNoLeak(name: String)(op: => DataFrame): Unit = {
    GraftSession.reset(spark)
    val out = op
    out.count()
    val leaked = pinned -- reads(out)
    assert(leaked.isEmpty,
      s"$name left ${leaked.size} pinned RDD(s) its result never reads")
  }

  test("scope keeps the pins the result reads and releases the rest") {
    GraftSession.reset(spark)
    var dropped: Set[Int] = Set.empty
    val out = Pins.scope { s =>
      val a = s.pin(frame(100))
      val b = s.pin(frame(50))
      dropped = idsOf(b)
      a.filter(col("k") === 3)
    }
    assert(dropped.nonEmpty && (pinned & dropped).isEmpty)
    assert(pinned == idsOf(out))
    assert(out.count() == frame(100).filter(col("k") === 3).count())
    // the pin keeps its caller's call site, not the primitive's
    assert(SparkBridge.checkpointRdds(out).head.toString
      .contains("localCheckpoint at PinsSpec.scala:"))
  }

  test("a pin read only through a scalar subquery is kept") {
    GraftSession.reset(spark)
    val out = Pins.scope { s =>
      val mx = s.pin(frame(40).agg(max(col("id")).as("m")))
      frame(10).select((col("id") + SparkBridge.scalarSubquery(mx)).as("x"))
    }
    assert(pinned.nonEmpty && pinned.subsetOf(reads(out)))
    assert(out.agg(max(col("x"))).head().getLong(0) == 48L)
  }

  test("an exception inside the body releases every pin") {
    GraftSession.reset(spark)
    intercept[IllegalStateException] {
      Pins.scope { s =>
        s.pin(frame(20))
        s.pin(frame(30))
        throw new IllegalStateException("boom")
      }
    }
    assert(pinned.isEmpty)
  }

  test("advance releases the superseded round; hand-over goes to the enclosing scope") {
    GraftSession.reset(spark)
    val n = Pins.scope { _ =>
      val last = Pins.scope { s =>
        var state = s.pin(frame(64))
        for (_ <- 1 to 3) {
          state = s.advance(state, s.pin(state.filter(col("id") % 2 === 0)
            .select((col("id") / 2).cast("long").as("id"), col("k"))))
          assert(pinned.size == 1, "one round pinned at a time")
        }
        state
      }
      assert(pinned == idsOf(last), "the inner result's pin is handed over")
      last.count()
    }
    assert(n == 8L && pinned.isEmpty, "the outer scope releases the hand-over")
  }

  test("nnDescent on a fresh model root leaves no pin behind") {
    val root = java.nio.file.Files.createTempDirectory("graft_pins_models_")
    spark.conf.set("spark.graft.modelRoot", s"file:$root")
    // two rounds are enough to leave a superseded round behind
    try assertNoLeak("nnDescent")(Similarity.nnDescent(spark, sf, k = 4, iters = 2))
    finally {
      spark.conf.unset("spark.graft.modelRoot")
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("the q61/q62 follow loop releases the feed batch's pin") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val root = "target/tmp-pins-follow"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val src = s"$root/src"
    SnapshotLog.create(spark, (0L until 40L).map(i => (i, i % 4, i * 10L))
      .toDF("key", "grp", "cents"), src, "key")
    SnapshotLog.merge(spark, Seq((0L, 0L, 0L, true), (100L, 1L, 5L, false))
      .toDF("key", "grp", "cents", "_del"), src, "key", "_del")
    GraftSession.reset(spark)
    assert(Warehouse.minmaxMaintain(spark, src, s"$root/view", "pins") == 1)
    assert(pinned.isEmpty, s"${pinned.size} feed-batch pin(s) left behind")
  }

  test("routeNearestPoi, nearDupClusters and semanticDedup leave only what their results read") {
    // the smallest settings that still run each loop: one routing hop,
    // and a tau with a handful of semantic pairs (7 at sf0.001)
    assertNoLeak("routeNearestPoi")(Routing.routeNearestPoi(spark, sf, hops = 1))
    assertNoLeak("nearDupClusters")(Dedup.nearDupClusters(spark, sf))
    assertNoLeak("semanticDedup")(Similarity.semanticDedup(spark, sf, tau = 0.45))
  }
}
