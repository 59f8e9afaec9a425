package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotLog

/** Column RENAME/DROP via column mapping (Delta column-mapping mode
  * "name"): metadata-only commits, physical parquet names frozen at
  * first write, each version reading under its OWN mapping. */
class SchemaMapSpec extends AnyFunSuite {
  import TestSession._

  private def tmpDir(name: String): String = {
    val d = new java.io.File(s"target/tmp-schemamap/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  test("rename is metadata-only: values survive, new name at latest, old name under time travel") {
    import spark.implicits._
    val path = tmpDir("rename")
    val rows = (0L until 50L).map(k => (k, s"p$k", k * 2))
    SnapshotLog.create(spark, rows.toDF("k", "p", "w"), path, "k")
    val segsBefore = SnapshotLog.manifest(spark, path, 0)
      .select("seg").collect().map(_.getString(0)).toSet
    val v1 = SnapshotLog.renameColumn(spark, path, "w", "weight")
    assert(v1 == 1)
    // metadata-only: the new manifest references the SAME segments
    val segsAfter = SnapshotLog.manifest(spark, path, 1)
      .select("seg").collect().map(_.getString(0)).toSet
    assert(segsAfter == segsBefore, "rename must not rewrite any segment")
    assert(SnapshotLog.isRewriteOnly(path, 1), "rename commits rewrite-only")
    val latest = SnapshotLog.read(spark, path)
    assert(latest.columns.toSeq == Seq("k", "p", "weight"))
    assert(latest.select(sum($"weight")).head.getLong(0) ==
      rows.map(_._3).sum)
    // time travel to v0 shows the pre-rename schema
    assert(SnapshotLog.read(spark, path, Some(0)).columns.toSeq ==
      Seq("k", "p", "w"))
    // diff across the rename boundary is empty: rows did not change
    assert(SnapshotLog.diff(spark, path, 0, 1, "k").count() == 0)
  }

  test("writes after a rename speak the logical schema and share the physical one") {
    import spark.implicits._
    val path = tmpDir("writes")
    SnapshotLog.create(spark,
      (0L until 20L).map(k => (k, k * 10)).toDF("k", "w"), path, "k")
    SnapshotLog.renameColumn(spark, path, "w", "weight")
    // append with the NEW logical name
    SnapshotLog.append(spark,
      (20L until 30L).map(k => (k, k * 10)).toDF("k", "weight"), path, "k")
    // upsert with the new logical name
    SnapshotLog.upsert(spark, Seq((5L, 999L)).toDF("k", "weight"), path, "k")
    // merge-on-read delete
    SnapshotLog.mergeDv(spark, Seq((7L, 0L, true)).toDF("k", "weight", "del"),
      path, "k", "del")
    val got = SnapshotLog.read(spark, path)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Long]("weight")).toMap
    val expect = ((0L until 30L).filter(_ != 7L)
      .map(k => k -> k * 10).toMap) + (5L -> 999L)
    assert(got == expect)
    // every segment stores the PHYSICAL name `w` — no schema fork
    SnapshotLog.manifest(spark, path,
      SnapshotLog.latestVersion(path).get).select("seg").collect()
      .map(_.getString(0)).foreach { seg =>
        assert(spark.read.parquet(seg).columns.contains("w") &&
          !spark.read.parquet(seg).columns.contains("weight"),
          s"segment $seg forked the physical schema")
      }
    // re-introducing the retired PHYSICAL name is a field-id re-add:
    // logical `w` becomes a NEW column stored as `w__f1`, while the
    // physical `w` on disk keeps serving logical `weight` untouched
    SnapshotLog.append(spark, Seq((99L, 7L)).toDF("k", "w"), path, "k")
    val r = SnapshotLog.read(spark, path, mergeSchema = true)
    assert(r.columns.toSet == Set("k", "weight", "w"))
    val at99 = r.filter($"k" === 99L).head
    assert(at99.isNullAt(at99.fieldIndex("weight")) &&
      at99.getAs[Long]("w") == 7L)
    // history null-fills the re-added column
    val at0 = r.filter($"k" === 0L).head
    assert(at0.isNullAt(at0.fieldIndex("w")))
    // and no segment forked the physical schema: the re-add landed as
    // the FRESH field-id physical, never a second `w`/`weight`
    val segCols = SnapshotLog.manifest(spark, path,
        SnapshotLog.latestVersion(path).get)
      .select("seg").collect().map(_.getString(0))
      .map(s => spark.read.parquet(s).columns.toSet)
    assert(segCols.exists(_.contains("w__f1")))
    assert(segCols.forall(!_.contains("weight")))
  }

  test("drop hides the column at latest, keeps it under time travel; re-add is field-id evolution") {
    import spark.implicits._
    val path = tmpDir("drop")
    SnapshotLog.create(spark,
      (0L until 20L).map(k => (k, s"p$k", k % 7)).toDF("k", "p", "junk"),
      path, "k")
    val v1 = SnapshotLog.dropColumn(spark, path, "junk")
    assert(v1 == 1 && SnapshotLog.isRewriteOnly(path, 1))
    assert(SnapshotLog.read(spark, path).columns.toSeq == Seq("k", "p"))
    assert(SnapshotLog.read(spark, path, Some(0)).columns.toSeq ==
      Seq("k", "p", "junk"))
    // writes without the dropped column proceed, reads stay two-column
    SnapshotLog.append(spark, Seq((99L, "x")).toDF("k", "p"), path, "k")
    assert(SnapshotLog.read(spark, path).count() == 21)
    // rename of a dropped column's LOGICAL name is absent -> refused
    intercept[Exception] {
      SnapshotLog.renameColumn(spark, path, "junk", "junk2")
    }
    // RE-ADDING the dropped name is field-id evolution (the r17
    // declared limitation, closed): `junk` returns as a FRESH physical
    // column — history (including the retired physical's values)
    // null-fills; time travel still reads the ORIGINAL junk at v0
    SnapshotLog.append(spark,
      Seq((100L, "y", 55L)).toDF("k", "p", "junk"), path, "k")
    val r = SnapshotLog.read(spark, path, mergeSchema = true)
    assert(r.columns.toSet == Set("k", "p", "junk"))
    val at100 = r.filter($"k" === 100L).head
    assert(at100.getAs[Long]("junk") == 55L)
    val at3 = r.filter($"k" === 3L).head
    assert(at3.isNullAt(at3.fieldIndex("junk")),
      "pre-drop rows must NOT resurrect the retired physical's values")
    // v0 time travel is untouched: the original junk values
    assert(SnapshotLog.read(spark, path, Some(0))
      .filter($"k" === 3L).head.getAs[Long]("junk") == 3L % 7)
    // a second drop + re-add allocates a DISTINCT field id
    SnapshotLog.dropColumn(spark, path, "junk")
    SnapshotLog.append(spark,
      Seq((101L, "z", 66L)).toDF("k", "p", "junk"), path, "k")
    val (pairs, dropped, fid) = SnapshotLog.colMapFull(path,
      SnapshotLog.latestVersion(path).get)
    assert(fid == 2 && pairs.toMap.get("junk").contains("junk__f2") &&
      dropped.toSet == Set("junk", "junk__f1"))
    val r2 = SnapshotLog.read(spark, path, mergeSchema = true)
    val at101 = r2.filter($"k" === 101L).head
    assert(at101.getAs[Long]("junk") == 66L)
    val at100b = r2.filter($"k" === 100L).head
    assert(at100b.isNullAt(at100b.fieldIndex("junk")),
      "the first re-add's values were dropped; they must stay dropped")
  }

  test("re-add skips identity columns already named like a field-id physical") {
    import spark.implicits._
    val path = tmpDir("readd_identity")
    // the table carries an IDENTITY column literally named `x__f1` —
    // never renamed or dropped, so it is invisible to the mapped+
    // dropped collision set the old allocator consulted (r18 ADVICE:
    // the re-add of `x` below used to allocate physical `x__f1`, and
    // two logical columns silently shared one physical name)
    SnapshotLog.create(spark,
      (0L until 10L).map(k => (k, k * 2, k * 3)).toDF("k", "x", "x__f1"),
      path, "k")
    SnapshotLog.dropColumn(spark, path, "x")
    SnapshotLog.append(spark,
      Seq((100L, 11L, 22L)).toDF("k", "x", "x__f1"), path, "k")
    val (pairs, dropped, fid) = SnapshotLog.colMapFull(path,
      SnapshotLog.latestVersion(path).get)
    assert(pairs.toMap.get("x").contains("x__f2"),
      s"re-added x must allocate a physical PAST the identity x__f1, got $pairs")
    assert(fid == 2 && dropped == Seq("x"))
    val r = SnapshotLog.read(spark, path, mergeSchema = true)
    val at100 = r.filter($"k" === 100L).head
    assert(at100.getAs[Long]("x") == 11L &&
      at100.getAs[Long]("x__f1") == 22L,
      "the re-added logical and the identity column must keep distinct values")
    val at3 = r.filter($"k" === 3L).head
    assert(at3.isNullAt(at3.fieldIndex("x")) &&
      at3.getAs[Long]("x__f1") == 9L,
      "history null-fills the re-add; the identity column's values are untouched")
  }

  test("readPoints surfaces a column only newer segments carry, as readPoint does") {
    import spark.implicits._
    val path = tmpDir("points_straddle")
    SnapshotLog.create(spark,
      (0L until 10L).map(k => (k, s"p$k")).toDF("k", "p"), path, "k")
    SnapshotLog.append(spark,
      (100L until 110L).map(k => (k, s"p$k", k * 3)).toDF("k", "p", "q"),
      path, "k")
    assert(SnapshotLog.readPoint(spark, path, "k", 105L)._1.columns.toSeq ==
      Seq("k", "p", "q"))
    val (rows, scanned, _) =
      SnapshotLog.readPoints(spark, path, "k", Seq(3L, 105L))
    assert(scanned == 2)
    assert(rows.columns.toSeq == Seq("k", "p", "q"))
    assert(rows.collect().map(r =>
      r.getAs[Long]("k") -> Option(r.get(r.fieldIndex("q")))).toMap ==
      Map(3L -> None, 105L -> Some(315L)))
  }

  test("append rebase guard surfaces a rename/drop committed between retry attempts") {
    import spark.implicits._
    val path = tmpDir("rebase_guard")
    SnapshotLog.create(spark,
      (0L until 5L).map(k => (k, k * 10)).toDF("k", "w"), path, "k")
    // the mapping an in-flight append read before its retry loop
    val (p0, d0, _) = SnapshotLog.colMapFull(path, 0)
    // no interleaved schema change: the guard passes (blind rebase ok)
    val boom = new RuntimeException("conflict")
    SnapshotLog.rebaseMappingGuard(path, 0, p0, d0, boom)
    // a rename lands between attempts: the stale mapping must surface
    // the original conflict instead of blind-rebasing a segment whose
    // physical schema no longer matches the table's
    val v1 = SnapshotLog.renameColumn(spark, path, "w", "weight")
    val got = intercept[RuntimeException] {
      SnapshotLog.rebaseMappingGuard(path, v1, p0, d0, boom)
    }
    assert(got eq boom)
    // an append re-reading the CURRENT mapping passes again
    val (p1, d1, _) = SnapshotLog.colMapFull(path, v1)
    SnapshotLog.rebaseMappingGuard(path, v1, p1, d1, boom)
  }

  test("rename chain + drop + restore: each version reads under its own mapping") {
    import spark.implicits._
    val path = tmpDir("chain")
    SnapshotLog.create(spark,
      (0L until 10L).map(k => (k, k * 3, s"p$k")).toDF("k", "a", "p"),
      path, "k")                                     // v0: (k, a, p)
    SnapshotLog.renameColumn(spark, path, "a", "b")  // v1: (k, b, p)
    SnapshotLog.renameColumn(spark, path, "b", "c")  // v2: (k, c, p)
    SnapshotLog.dropColumn(spark, path, "p")         // v3: (k, c)
    assert(SnapshotLog.read(spark, path, Some(0)).columns.toSeq ==
      Seq("k", "a", "p"))
    assert(SnapshotLog.read(spark, path, Some(1)).columns.toSeq ==
      Seq("k", "b", "p"))
    assert(SnapshotLog.read(spark, path, Some(2)).columns.toSeq ==
      Seq("k", "c", "p"))
    assert(SnapshotLog.read(spark, path, Some(3)).columns.toSeq ==
      Seq("k", "c"))
    // values ride the chain untouched
    assert(SnapshotLog.read(spark, path).select(sum($"c")).head.getLong(0) ==
      (0L until 10L).map(_ * 3).sum)
    // restore to v1 restores the v1 SCHEMA (b, p back)
    val v4 = SnapshotLog.restore(spark, path, 1)
    assert(SnapshotLog.read(spark, path, Some(v4)).columns.toSeq ==
      Seq("k", "b", "p"))
  }

  test("clone carries the mapping; maintenance and pruned reads run under logical names") {
    import spark.implicits._
    val path = tmpDir("maint")
    val rows = (0L until 200L).map(k => (k, k % 97, s"p$k"))
    SnapshotLog.create(spark, rows.toDF("id", "y", "p"), path, "id")
    SnapshotLog.append(spark,
      (200L until 400L).map(k => (k, k % 97, s"p$k")).toDF("id", "y", "p"),
      path, "id")
    // rename the KEY column itself, then run every keyed verb logically
    SnapshotLog.renameColumn(spark, path, "id", "key")
    val (ranged, _, _) = SnapshotLog.readRange(spark, path, "key", 10L, 19L)
    assert(ranged.columns.contains("key") &&
      ranged.count() == 10)
    SnapshotLog.compact(spark, path, "key", slices = 2)
    val (pt, _, _) = SnapshotLog.readPoint(spark, path, "key", 42L)
    assert(pt.select("p").head.getString(0) == "p42")
    val (pts, _, _) = SnapshotLog.readPoints(spark, path, "key",
      Seq(1L, 399L))
    assert(pts.count() == 2)
    SnapshotLog.compactZOrder(spark, path, "key", "y", slices = 4)
    val (box, _, _) = SnapshotLog.readBox(spark, path, "key", "y",
      0L, 100L, 0L, 50L)
    assert(box.count() ==
      rows.count { case (k, y, _) => k <= 100 && y <= 50 })
    SnapshotLog.mergeDv(spark, Seq((3L, 3L, "x", true)).toDF(
      "key", "y", "p", "del"), path, "key", "del")
    SnapshotLog.purgeDv(spark, path, "key", minDvFrac = 0.0)
    assert(SnapshotLog.read(spark, path).count() == 399)
    // the clone speaks the source's current logical schema
    val dst = tmpDir("maint_clone")
    SnapshotLog.cloneTable(spark, path, dst)
    assert(SnapshotLog.read(spark, dst).columns.toSeq ==
      Seq("key", "y", "p"))
    // WAP after rename: staged segments store physical, audit reads logical
    SnapshotLog.stage(spark, Seq((500L, 1L, "staged")).toDF("key", "y", "p"),
      path, "key", "aud")
    assert(SnapshotLog.readStaged(spark, path, "aud")
      .filter($"key" === 500L).count() == 1)
    SnapshotLog.publishStage(spark, path, "aud")
    assert(SnapshotLog.read(spark, path).filter($"key" === 500L)
      .select("p").head.getString(0) == "staged")
  }

  test("follower change feed skips rename commits and keeps converging") {
    import spark.implicits._
    val path = tmpDir("follow")
    SnapshotLog.create(spark,
      (0L until 10L).map(k => (k, s"v0_$k")).toDF("k", "p"), path, "k")
    // followDiff delivers CHANGES since v0 — the consumer bootstraps
    // its state from the created version (the SnapshotModelSpec shape)
    var state: Map[Long, String] =
      (0L until 10L).map(k => k -> s"v0_$k").toMap
    // the feed speaks the CURRENT logical schema (diff presents both
    // sides under vTo's mapping), so the consumer names the payload
    // field as the schema it tracks names it
    def poll(payload: String): Unit =
      SnapshotLog.followDiff(spark, path, "k", "smf") { (feed, _) =>
        feed.select(col("k"), col("change"),
          col(s"_new.$payload").as("p"))
          .collect().foreach { r =>
            if (r.getString(1) == "delete") state -= r.getLong(0)
            else state += (r.getLong(0) -> r.getString(2))
          }
        ()
      }
    poll("p")
    assert(state.size == 10)
    SnapshotLog.renameColumn(spark, path, "p", "payload")
    SnapshotLog.upsert(spark, Seq((3L, "new3"), (10L, "new10"))
      .toDF("k", "payload"), path, "k")
    poll("payload")
    assert(state.size == 11 && state(3L) == "new3" && state(10L) == "new10")
  }
}
