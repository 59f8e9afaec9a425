package perfbench

import java.io.File
import graft.functions.GeoFunctions.{latOf, lonOf}
import graft.operators.{Accessibility, Dedup, Routing, Similarity, TextAnalysis}
import graft.sources.{Exports, GeoJson, SnapshotLog, VectorTiles}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The paper's batch run: grid/clip, nearest-POI ETA per type, kNN, the
  * routed ETA and isochrone, the per-area rollup, and four exports
  * written from the ETA result, which is computed once per pass. */
final class RamProject(spark: SparkSession, in: String, work: String,
                       rec: Recorder) extends Workload(spark, in, work, rec) {
  /** Relaxation rounds of the routing loop. Each round costs a few Spark
    * jobs of fixed driver overhead, so half the engine's default keeps a
    * pass short while every round still runs the same loop. */
  private val Hops = 3

  def pass(p: Int): Unit = {
    rec.call("accessibility.grid_clip", "read") {
      consume(Accessibility.clipArea(spark, in))
    }
    var eta: DataFrame = null
    rec.call("accessibility.nearest_eta", "read") {
      eta = Accessibility.nearestPoi(spark, in)
        .withColumn("lat", latOf(col("c_custkey")))
        .withColumn("lon", lonOf(col("c_custkey")))
        .cache()
      consume(eta)
    }
    def exportTo(layer: String)(write: String => Unit): Unit = {
      val dir = out(p, layer)
      rec.call(layer, "commit", dir, logicalOnce("eta")(eta))(write(dir))
    }
    exportTo("exports.csv")(Exports.writeFlatCsv(eta, _))
    exportTo("exports.json")(Exports.writeGroupedJson(eta, "c_custkey", _))
    exportTo("exports.geojson")(GeoJson.writePointsJsonl(eta, "lon", "lat", _))
    exportTo("exports.tiles")(VectorTiles.writePyramid(eta, 0, 2, _,
      "c_custkey", Seq("poi_type", "eta_s")))
    if (eta != null) eta.unpersist(blocking = true)
    rec.call("accessibility.knn", "read") {
      consume(Accessibility.knnPoi(spark, in))
    }
    rec.call("routing.route_eta", "read") {
      consume(Routing.routeNearestPoi(spark, in, Hops))
    }
    rec.call("routing.isochrone", "read") {
      consume(Routing.isochroneCoverage(spark, in, Hops))
    }
    val rollup = checked(p, "pipeline_ram_e2e")
    rec.call("accessibility.rollup", "commit", rollup,
        logicalOnce("rollup")(spark.read.parquet(rollup))) {
      Accessibility.ramE2e(spark, in).write.parquet(rollup)
    }
  }
}

/** LLM-data curation over a shape-preserving replication of a seeded
  * corpus: exact and near-duplicate removal, containment,
  * decontamination, the quality funnel and semantic dedup. The two
  * curated outputs (exact survivors, funnel survivors) are written and
  * checked against the DuckDB oracle. */
final class CorpusCuration(spark: SparkSession, in: String, work: String,
                           rec: Recorder) extends Workload(spark, in, work, rec) {
  def pass(p: Int): Unit = {
    val exact = checked(p, "dedup_exact_survivors")
    rec.call("dedup.exact", "commit", exact,
        logicalOnce("exact")(spark.read.parquet(exact))) {
      Dedup.exactSurvivors(spark, in).write.parquet(exact)
    }
    rec.call("dedup.minhash", "read") {
      consume(Dedup.minhashCandidates(spark, in))
    }
    rec.call("dedup.verify", "read")(consume(Dedup.ngramJaccard(spark, in)))
    rec.call("dedup.clusters", "read") {
      consume(Dedup.nearDupClusters(spark, in))
    }
    rec.call("dedup.containment", "read") {
      consume(Dedup.containment(spark, in))
    }
    rec.call("text.decontaminate", "read") {
      consume(TextAnalysis.decontaminate(spark, in))
    }
    val funnel = checked(p, "pipeline_llm_e2e")
    rec.call("text.funnel", "commit", funnel,
        logicalOnce("funnel")(spark.read.parquet(funnel))) {
      TextAnalysis.llmE2e(spark, in).write.parquet(funnel)
    }
    rec.call("similarity.semantic_dedup", "read") {
      consume(Similarity.semanticDedup(spark, in))
    }
  }

  /** Verified pairs per candidate pair. Counted once, outside the timed
    * passes. */
  override def finish(): Unit = {
    val cand = Dedup.minhashCandidates(spark, in).count()
    val verified = Dedup.ngramJaccard(spark, in).count()
    counters("dedup.verify.yield") =
      if (cand == 0) 0.0 else verified.toDouble / cand
  }
}

/** Snapshot-table churn, one closed-loop client: a fresh table per pass,
  * rounds that alternate a copy-on-write `merge` and a merge-on-read
  * `mergeDv`, each with an `append`, a `readPoint` and a full-scan
  * `read`, then `compact`, `diff` and `gc`. Every `readPoint` and the
  * final table are checked against a model of the operation log. */
final class TableChurn(spark: SparkSession, in: String, work: String,
                       rec: Recorder) extends Workload(spark, in, work, rec) {
  private type Model = mutable.HashMap[Long, (String, Double)]
  private var base: DataFrame = _
  private var baseRows: Seq[Row] = Nil
  private var upserts: IndexedSeq[(DataFrame, Array[Row], Long)] = _
  private var appends: IndexedSeq[(DataFrame, Array[Row], Long)] = _
  private var points: Array[Long] = _
  private val finalModel = mutable.Map[Int, Model]()

  /** Each merge is a commit a client waits on, each read a query. */
  override def latencyPerPass: Boolean = false

  private def rowOf(r: Row): (Long, (String, Double)) =
    r.getAs[Long]("k") -> (r.getAs[String]("p"), r.getAs[Double]("v"))
  private def bytesOf(rows: Array[Row], flag: Int): Long =
    rows.map(r => 16L + r.getAs[String]("p").getBytes("UTF-8").length + flag).sum

  override def prepare(): Unit = {
    base = spark.read.parquet(s"$in/table_base.parquet")
    baseRows = base.collect().toSeq
    val rounds = new File(in).list().count(_.startsWith("upsert_"))
    def batch(name: String, flag: Int) = {
      val df = spark.read.parquet(s"$in/$name.parquet")
      val rows = df.collect()
      (df, rows, bytesOf(rows, flag))
    }
    upserts = (0 until rounds).map(r => batch(s"upsert_$r", 1))
    appends = (0 until rounds).map(r => batch(s"append_$r", 0))
    points = spark.read.parquet(s"$in/points.parquet").orderBy("round")
      .collect().map(_.getAs[Long]("k"))
  }

  def pass(p: Int): Unit = {
    val root = s"$work/tables/p$p"
    val model: Model = mutable.HashMap(baseRows.map(rowOf): _*)
    rec.call("snapshot.create", "other", root, amp = false) {
      SnapshotLog.create(spark, base, root, "k")
    }
    for (r <- upserts.indices) {
      val (up, upRows, upBytes) = upserts(r)
      val (name, merge) =
        if (r % 2 == 0) ("snapshot.merge", SnapshotLog.merge _)
        else ("snapshot.merge_dv", SnapshotLog.mergeDv _)
      rec.call(name, "commit", root, upBytes) {
        merge(spark, up, root, "k", "del", None)
      }
      upRows.foreach { row =>
        if (row.getAs[Boolean]("del")) model -= row.getAs[Long]("k")
        else model += rowOf(row)
      }
      val (app, appRows, appBytes) = appends(r)
      rec.call("snapshot.append", "other", root, appBytes) {
        SnapshotLog.append(spark, app, root, "k")
      }
      model ++= appRows.map(rowOf)
      val key = points(r)
      var got: Array[Row] = Array.empty
      rec.call("snapshot.read_point", "read") {
        got = SnapshotLog.readPoint(spark, root, "k", key)._1
          .select("k", "p", "v").collect()
      }
      rec.check(s"readPoint($key) round $r pass $p") {
        got.map(rowOf).toSeq == model.get(key).map(key -> _).toSeq
      }
      rec.call("snapshot.read_scan", "read") {
        consume(SnapshotLog.read(spark, root))
      }
    }
    var latest = 0
    rec.call("snapshot.compact", "other", root) {
      latest = SnapshotLog.compact(spark, root, "k")
    }
    rec.call("snapshot.diff", "other") {
      consume(SnapshotLog.diff(spark, root, 0, latest, "k"))
    }
    rec.call("snapshot.gc", "other", root)(SnapshotLog.gc(spark, root, 1))
    rec.check(s"final table pass $p") {
      val rows = SnapshotLog.read(spark, root).select("k", "p", "v").collect()
      rows.length == model.size && rows.map(rowOf).toMap == model
    }
    finalModel(p) = model
  }

  override def liveBytes(p: Int): Long =
    finalModel.get(p).map(_.valuesIterator.map {
      case (s, _) => 16L + s.getBytes("UTF-8").length
    }.sum).getOrElse(0L)

  override def cleanup(p: Int): Unit = {
    super.cleanup(p)
    finalModel -= p
    org.apache.commons.io.FileUtils.deleteQuietly(new File(s"$work/tables/p$p"))
  }
}
