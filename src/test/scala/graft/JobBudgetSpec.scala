package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Accessibility, Dedup, Graph, Similarity}
import graft.sources.SnapshotLog

/** Job budgets: the most Spark jobs each SnapshotLog verb the benchmark's
  * `table_churn` pass drives may start, and `nearestPoi` and the three
  * connected-components callers (`nearDupClusters`, `semanticDedup`,
  * `Graph.components`) and three callers of the shingle-Jaccard verify
  * (`ngramJaccard`, `simhashChecked`, `paraphrasePairs`) at sf0.001.
  * Job counts are deterministic where wall times are not, and at these
  * sizes a verb's latency is mostly its job count, so a change that adds
  * jobs back fails here. Each lazy verb is counted with the action the
  * benchmark runs on it (collect, or a `noop` write). Lowering a budget
  * records a win; raising one needs a stated reason. */
class JobBudgetSpec extends AnyFunSuite {
  import TestSession._

  /** Set at the counts measured on TestSession's fixed local[4], where a
    * schema-less parquet read cost one more job per read site, and the
    * components closure one job per round (38, 170 and 44 jobs for the
    * three components callers). `simhashChecked` and `paraphrasePairs`
    * ran 15 and 12 jobs with a hand-typed, unpinned verify; the shared
    * verify's pair and shingle-set pins cost each a few jobs more. */
  private val budgets: Seq[(String, Int)] = Seq(
    "create" -> 4, "merge" -> 7, "append" -> 5, "readPoint" -> 2,
    "read" -> 2, "mergeDv" -> 11, "compact" -> 6, "diff" -> 3, "gc" -> 0,
    "nearestPoi" -> 7, "nearDupClusters" -> 26, "semanticDedup" -> 13,
    "components" -> 12, "ngramJaccard" -> 17, "simhashChecked" -> 17,
    "paraphrasePairs" -> 15)

  test("each table_churn verb, nearestPoi and the components callers stay in budget") {
    import spark.implicits._
    val path = {
      val d = new java.io.File("target/tmp-jobbudget/churn")
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      d.getParentFile.mkdirs()
      d.getAbsolutePath
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val base = (0L until 300L).map(k => (k, s"p$k", k * 0.5)).toDF("k", "p", "v")
    // each change batch updates, deletes and inserts keys
    def changes(r: Int) = ((0L until 30L).map(i => (i * 10 + r, s"u$r-$i", 1.0, i % 5 == 0)) ++
      (0L until 10L).map(i => (1000L * (r + 1) + i, s"n$r-$i", 2.0, false)))
      .toDF("k", "p", "v", "del")
    def appendBatch(r: Int) = (0L until 15L).map(i => (5000L * (r + 1) + i, s"a$i", 3.0))
      .toDF("k", "p", "v")
    val steps: Seq[(String, () => Unit)] = Seq(
      "create" -> (() => SnapshotLog.create(spark, base, path, "k")),
      "merge" -> (() => SnapshotLog.merge(spark, changes(0), path, "k", "del")),
      "append" -> (() => SnapshotLog.append(spark, appendBatch(0), path, "k")),
      "readPoint" -> (() => SnapshotLog.readPoint(spark, path, "k", 10L)._1.collect()),
      "read" -> (() => noop(SnapshotLog.read(spark, path))),
      "mergeDv" -> (() => SnapshotLog.mergeDv(spark, changes(1), path, "k", "del")),
      "append" -> (() => SnapshotLog.append(spark, appendBatch(1), path, "k")),
      "readPoint" -> (() => SnapshotLog.readPoint(spark, path, "k", 11L)._1.collect()),
      "read" -> (() => noop(SnapshotLog.read(spark, path))),
      "compact" -> (() => SnapshotLog.compact(spark, path, "k")),
      "diff" -> (() => noop(SnapshotLog.diff(spark, path, 0,
        SnapshotLog.latestVersion(path).get, "k"))),
      "gc" -> (() => SnapshotLog.gc(spark, path, 1)),
      "nearestPoi" -> (() => noop(Accessibility.nearestPoi(spark, sf))),
      "nearDupClusters" -> (() => noop(Dedup.nearDupClusters(spark, sf))),
      "semanticDedup" -> (() => noop(Similarity.semanticDedup(spark, sf))),
      "components" -> (() => noop(Graph.components(spark, sf))),
      "ngramJaccard" -> (() => noop(Dedup.ngramJaccard(spark, sf))),
      "simhashChecked" -> (() => noop(Dedup.simhashChecked(spark, sf))),
      "paraphrasePairs" -> (() => noop(Similarity.paraphrasePairs(spark, sf))))
    val counted = steps.map { case (verb, run) =>
      verb -> JobLedger.during(spark)(run())._2
    }
    val over = budgets.flatMap { case (verb, budget) =>
      val calls = counted.filter(_._1 == verb).map(_._2)
      assert(calls.nonEmpty, s"no step runs $verb")
      calls.filter(_.length > budget).map(jobs =>
        s"$verb: ${jobs.length} jobs > budget $budget\n${JobLedger.bySite(jobs)}")
    }
    println(counted.map { case (v, j) => s"$v=${j.length}" }.mkString("job counts: ", " ", ""))
    assert(over.isEmpty, over.mkString("\n"))
    // a pinned job names the operator that pinned, not the pin primitive
    val pinSites = counted.flatMap(_._2).filter(_.site.contains("Pins.scala"))
    assert(pinSites.isEmpty, JobLedger.bySite(pinSites))
  }
}
