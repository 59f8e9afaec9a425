package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.SnapshotLog

/** MERGE-ON-READ (deletion-vector) specs for [[SnapshotLog.mergeDv]]:
  * the COW-killer for update-heavy histories. The contract under test —
  * a point merge commits O(delta) bytes (measured against the affected
  * segment's on-disk size), every untouched AND affected segment rides
  * into the new manifest by reference, readers/diff/followers see
  * exactly the merged state, compaction purges tombstones back into
  * data, and gc reclaims tombstone dirs no surviving manifest lists. */
class DeletionVectorSpec extends AnyFunSuite {
  import TestSession._

  private def tmpDir(name: String): String = {
    val d = new java.io.File(s"target/tmp-dv/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  /** 4 key-range segments: [0,q) big, then three appends. */
  private def buildTable(path: String, big: Int = 20000,
                         rest: Int = 50): Unit = {
    import spark.implicits._
    def rows(lo: Long, n: Int) =
      (0 until n).map(i => (lo + i, s"p_${lo + i}_" + "x" * 24))
        .toDF("k", "p")
    SnapshotLog.create(spark, rows(0L, big), path, "k")
    SnapshotLog.append(spark, rows(1000000L, rest), path, "k")
    SnapshotLog.append(spark, rows(2000000L, rest), path, "k")
    SnapshotLog.append(spark, rows(3000000L, rest), path, "k")
  }

  private def readMap(path: String, v: Option[Int] = None): Map[Long, String] =
    SnapshotLog.read(spark, path, v).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("p"))).toMap

  private def dvsOf(r: org.apache.spark.sql.Row): Seq[String] =
    if (!r.schema.fieldNames.contains("dvs") ||
      r.isNullAt(r.fieldIndex("dvs"))) Nil
    else r.getSeq[String](r.fieldIndex("dvs"))

  test("mergeDv: point delete/update commits O(delta) bytes; all prior segments ride by reference; time travel intact") {
    import spark.implicits._
    val path = tmpDir("basic")
    buildTable(path)
    val before = readMap(path)
    val segsBefore = SnapshotLog.manifest(spark, path, 3).collect()
      .map(_.getAs[String]("seg")).toSet
    val bytesBefore = dirBytes(s"$path/data")

    // delete k=5, update k=17, insert k=9000000 — one MoR commit
    val delta = Seq((5L, "", true), (17L, "upd_17", false),
      (9000000L, "new_9000000", false)).toDF("k", "p", "del")
    val v = SnapshotLog.mergeDv(spark, delta, path, "k", "del")
    assert(v == 4)

    // state: delete gone, update replaced, insert present, rest intact
    val after = readMap(path)
    assert(after == before - 5L + (17L -> "upd_17") +
      (9000000L -> "new_9000000"))
    // time travel to the pre-merge version is untouched
    assert(readMap(path, Some(3)) == before)

    // every pre-merge segment rides by reference (no rewrite), exactly
    // one gained a deletion vector with the exact suppressed count
    val m = SnapshotLog.manifest(spark, path, 4).collect()
    assert(segsBefore.subsetOf(m.map(_.getAs[String]("seg")).toSet),
      "a prior segment was rewritten by the MoR merge")
    val dvd = m.filter(dvsOf(_).nonEmpty)
    assert(dvd.length == 1 && dvd.head.getAs[Long]("dv_rows") == 2L)

    // O(delta) writes: the merge's new bytes (tombstone dir + delta
    // segment) are a sliver of the affected 20k-row segment
    val affectedBytes = dirBytes(dvd.head.getAs[String]("seg"))
    val newBytes = dirBytes(s"$path/dv") +
      (dirBytes(s"$path/data") - bytesBefore)
    assert(newBytes < affectedBytes / 5,
      s"MoR merge wrote $newBytes bytes vs $affectedBytes affected — " +
        "not O(delta)")

    // history reports LOGICAL rows (physical minus tombstoned)
    val h = SnapshotLog.history(spark, path).collect()
      .map(r => r.getInt(0) -> r.getAs[Long]("n_rows")).toMap
    assert(h(4) == h(3) + 1 - 1 + 1 - 1,
      s"history logical count off: v3=${h(3)} v4=${h(4)}")
    assert(h(4) == after.size.toLong)
  }

  test("mergeDv stacks; compact purges tombstones; gc reclaims orphaned dv dirs; readRange applies vectors") {
    import spark.implicits._
    val path = tmpDir("stack")
    buildTable(path, big = 2000)
    val d1 = Seq((7L, "", true), (8L, "u8", false)).toDF("k", "p", "del")
    val d2 = Seq((8L, "", true), (9L, "u9", false)).toDF("k", "p", "del")
    SnapshotLog.mergeDv(spark, d1, path, "k", "del")
    SnapshotLog.mergeDv(spark, d2, path, "k", "del")
    val m = SnapshotLog.manifest(spark, path, 5).collect()
    val dvd = m.filter(dvsOf(_).nonEmpty)
    // the big segment accumulated both merges' tombstones; the first
    // delta segment (holding u8) was tombstoned by the second merge
    val bigRow = dvd.find(_.getAs[Long]("n_rows") == 2000L).get
    assert(dvsOf(bigRow).length == 2 && bigRow.getAs[Long]("dv_rows") == 3L,
      s"big segment dvs=${dvsOf(bigRow)} dv_rows=${bigRow.getAs[Long]("dv_rows")}")
    val state = readMap(path)
    assert(!state.contains(7L) && !state.contains(8L) &&
      state(9L) == "u9" && state(0L).startsWith("p_0_"))

    // readRange over the tombstoned segment applies the vectors
    val (rows, scanned, total) =
      SnapshotLog.readRange(spark, path, "k", 0L, 20L)
    val got = rows.collect().map(_.getAs[Long]("k")).toSet
    assert(got == ((0L to 20L).toSet - 7L - 8L) && scanned < total)

    // OPTIMIZE folds tombstones into data: no dvs survive, state same,
    // every version still time-travels
    SnapshotLog.compact(spark, path, "k", Long.MaxValue, slices = 2)
    val mc = SnapshotLog.manifest(spark, path, 6).collect()
    assert(mc.forall(dvsOf(_).isEmpty), "compact left live tombstones")
    assert(readMap(path) == state)
    assert(!readMap(path, Some(4)).contains(7L) &&
      readMap(path, Some(4))(8L) == "u8")

    // gc past the dv-referencing versions reclaims the tombstone dirs
    SnapshotLog.gc(spark, path, retainLast = 1)
    val dvRoot = new java.io.File(s"$path/dv")
    assert(!dvRoot.exists() || dvRoot.listFiles().isEmpty,
      "gc left orphaned deletion-vector dirs")
    assert(readMap(path) == state)
  }

  test("diff classifies a MoR merge; follower converges; a COW merge folds the tombstones it touches") {
    import spark.implicits._
    val path = tmpDir("diff")
    buildTable(path, big = 1000)
    val before = readMap(path)
    val delta = Seq((3L, "", true), (11L, "u11", false),
      (9000000L, "n", false)).toDF("k", "p", "del")
    SnapshotLog.mergeDv(spark, delta, path, "k", "del")

    val d = SnapshotLog.diff(spark, path, 3, 4, "k").collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("change")).toMap
    assert(d == Map(3L -> "delete", 11L -> "update", 9000000L -> "insert"),
      s"diff across the MoR merge misclassified: $d")

    // follower bootstrapped pre-merge converges through the DV commit
    var st = before
    SnapshotLog.followDiff(spark, path, "k", "dvf", startAt = 3) {
      (feed, _) =>
        feed.select(col("k"), col("change"), col("_new.p").as("p"))
          .collect().foreach { r =>
            if (r.getString(1) == "delete") st -= r.getLong(0)
            else st += (r.getLong(0) -> r.getString(2))
          }
        ()
    }
    assert(st == readMap(path))

    // a COW merge over the tombstoned range folds the vectors: the
    // rewritten segment lists none, suppressed rows stay gone
    val cow = Seq((12L, "u12", false)).toDF("k", "p", "del")
    SnapshotLog.merge(spark, cow, path, "k", "del")
    val m = SnapshotLog.manifest(spark, path, 5).collect()
    assert(m.forall(dvsOf(_).isEmpty))
    val state = readMap(path)
    assert(!state.contains(3L) && state(11L) == "u11" &&
      state(12L) == "u12" && state(9000000L) == "n")
  }

  test("purgeDv rewrites only segments at the DV-density threshold; below-threshold vectors and their dirs survive; logical state, time travel and the change feed are untouched") {
    import spark.implicits._
    val path = tmpDir("purge")
    buildTable(path, big = 2000) // seg0 [0,2000) + three 50-row appends
    // dense wave: 20 of seg1's 50 rows (frac 0.4) — above threshold
    val dense = (1000000L until 1000020L).map(k => (k, "", true))
      .toDF("k", "p", "del")
    SnapshotLog.mergeDv(spark, dense, path, "k", "del") // v4
    // sparse wave: 2 of seg0's 2000 rows (frac 0.001) — below threshold
    val sparse = Seq((7L, "", true), (9L, "", true)).toDF("k", "p", "del")
    SnapshotLog.mergeDv(spark, sparse, path, "k", "del") // v5
    val before = readMap(path)
    val m5 = SnapshotLog.manifest(spark, path, 5).collect()
    val denseSeg = m5.find(r => dvsOf(r).nonEmpty &&
      r.getAs[Long]("min_key") >= 1000000L).get
    val sparseSeg = m5.find(r => dvsOf(r).nonEmpty &&
      r.getAs[Long]("min_key") < 1000000L).get

    val v = SnapshotLog.purgeDv(spark, path, "k", minDvFrac = 0.1)
    assert(v == 6)
    val m6 = SnapshotLog.manifest(spark, path, 6).collect()
    // the dense segment was rewritten: gone from the manifest, replaced
    // by a vector-free segment holding exactly its live rows
    assert(!m6.exists(_.getAs[String]("seg") ==
      denseSeg.getAs[String]("seg")))
    val repl = m6.find(r => r.getAs[Long]("min_key") >= 1000000L &&
      r.getAs[Long]("min_key") < 2000000L).get
    assert(dvsOf(repl).isEmpty && repl.getAs[Long]("n_rows") == 30L)
    // the sparse segment rides by reference VERBATIM — same path, same
    // tombstone list; the rest of the manifest is carried too
    val sparseAfter = m6.find(_.getAs[String]("seg") ==
      sparseSeg.getAs[String]("seg")).get
    assert(dvsOf(sparseAfter) == dvsOf(sparseSeg) &&
      sparseAfter.getAs[Long]("dv_rows") == 2L)
    assert(m6.length == m5.length)
    // logical state identical; both pre-purge versions time-travel
    assert(readMap(path) == before)
    assert(readMap(path, Some(5)) == before)
    assert(readMap(path, Some(4)).contains(7L))
    // rewrite-only: a follower cursored before the purge reads nothing
    assert(SnapshotLog.isRewriteOnly(path, 6))
    var fed = 0
    SnapshotLog.followDiff(spark, path, "k", "pg", startAt = 5) {
      (feed, _) => fed += feed.count().toInt
    }
    assert(fed == 0, s"purge leaked $fed rows into the change feed")
    // idempotent: nothing is at the threshold any more
    assert(SnapshotLog.purgeDv(spark, path, "k", minDvFrac = 0.1) == 6)
    // gc reclaims the replaced segment and ITS tombstone dir, but must
    // keep the below-threshold segment's still-referenced tombstones
    SnapshotLog.gc(spark, path, retainLast = 1)
    assert(!new java.io.File(denseSeg.getAs[String]("seg")).exists())
    assert(dvsOf(sparseAfter).forall(d => new java.io.File(d).exists()),
      "gc reclaimed a tombstone dir the live manifest still references")
    assert(readMap(path) == before)
    // a fully-tombstoned segment purges to zero rows and is ELIDED
    val wipe = (3000000L until 3000050L).map(k => (k, "", true))
      .toDF("k", "p", "del")
    SnapshotLog.mergeDv(spark, wipe, path, "k", "del")
    SnapshotLog.purgeDv(spark, path, "k", minDvFrac = 0.5)
    val m8 = SnapshotLog.manifest(spark, path, 8).collect()
    assert(!m8.exists(r => r.getAs[Long]("min_key") >= 3000000L))
    assert(readMap(path) == before.view.filterKeys(_ < 3000000L).toMap)
  }

  test("purgeDv preserves z-order clustering: the per-column stats map rides onto the rewritten segment and readBox prunes exactly as before") {
    import spark.implicits._
    val path = tmpDir("purgez")
    val df = (0L until 4096L).map(i => (i, (i * 2654435761L) % 4096L))
      .toDF("k", "y")
    // two commits: compactZOrder no-ops on a single-segment table
    SnapshotLog.create(spark, df.filter(col("k") < 2048L), path, "k")
    SnapshotLog.append(spark, df.filter(col("k") >= 2048L), path, "k")
    SnapshotLog.compactZOrder(spark, path, "k", "y", slices = 8) // v2
    val (_, scanned0, total0) =
      SnapshotLog.readBox(spark, path, "k", "y", 0L, 511L, 0L, 511L)
    assert(scanned0 < total0, "z-order fixture fails to prune at all")
    // tombstone a few rows in ONE tile, then purge everything vectored
    val probe = SnapshotLog.read(spark, path).filter(col("k") < 5L)
      .select(col("k"), col("y"), lit(true).as("del"))
    SnapshotLog.mergeDv(spark, probe, path, "k", "del") // v3
    val vectored = SnapshotLog.manifest(spark, path, 3).collect()
      .filter(dvsOf(_).nonEmpty)
    assert(vectored.nonEmpty)
    val v = SnapshotLog.purgeDv(spark, path, "k")
    assert(v == 4)
    val m3 = SnapshotLog.manifest(spark, path, 4).collect()
    assert(m3.forall(dvsOf(_).isEmpty))
    // every rewritten row kept its per-column stats map (rows only
    // shrink, so the old bounds remain correct) — pruning is as tight
    // after the purge as before it
    val statsIdx = m3.head.fieldIndex("stats")
    assert(m3.forall(r => !r.isNullAt(statsIdx) &&
      r.getMap[String, org.apache.spark.sql.Row](statsIdx)
        .contains("y")))
    val (rows3, scanned3, total3) =
      SnapshotLog.readBox(spark, path, "k", "y", 0L, 511L, 0L, 511L)
    assert(total3 == total0 && scanned3 == scanned0,
      s"purge loosened pruning: $scanned3/$total3 vs $scanned0/$total0")
    // the purge refreshed the rewritten tile's key bloom over its LIVE
    // rows: a purged-away key now bloom-prunes to zero scans and zero
    // rows (a carried bloom would still false-positive the old tile)
    val bloomIdx = m3.head.fieldIndex("bloom")
    assert(m3.forall(!_.isNullAt(bloomIdx)),
      "purge dropped a tile's key bloom")
    val (gone, scannedGone, _) = SnapshotLog.readPoint(spark, path, "k", 2L)
    assert(gone.count() == 0 && scannedGone == 0,
      s"purged key k=2 still scanned $scannedGone segments")
    assert(rows3.count() ==
      df.filter(col("k") <= 511L && col("y") <= 511L).count() - probe
        .filter(col("k") <= 511L && col("y") <= 511L).count())
  }

  test("compact of a fully tombstoned table commits an empty version at any slice count") {
    import spark.implicits._
    val rows = (0L until 20L).map(k => (k, s"p$k"))
    for (slices <- Seq(1, 2)) {
      val path = tmpDir(s"all_dead_$slices")
      SnapshotLog.create(spark, rows.take(10).toDF("k", "p"), path, "k")
      SnapshotLog.append(spark, rows.drop(10).toDF("k", "p"), path, "k")
      SnapshotLog.mergeDv(spark,
        rows.map { case (k, p) => (k, p, true) }.toDF("k", "p", "del"),
        path, "k", "del")
      assert(SnapshotLog.read(spark, path).count() == 0)
      val v = SnapshotLog.compact(spark, path, "k", slices = slices)
      assert(v == 3, s"slices=$slices")
      assert(SnapshotLog.manifest(spark, path, v).count() == 0,
        s"slices=$slices left segments in the manifest")
      val after = SnapshotLog.read(spark, path)
      assert(after.columns.toSeq == Seq("k", "p") && after.count() == 0,
        s"slices=$slices")
    }
  }

  test("sliced and z-order compaction keep null-key rows") {
    import spark.implicits._
    // a null key beside others, and a table of null keys only; each
    // compaction runs on two or more segments, so neither is a no-op
    for ((name, key) <- Seq(("null_key", Some(1L)), ("null_keys_only", None))) {
      val path = tmpDir(name)
      val batches = Seq(Seq((key, 10L, "a"), (None, 20L, "n")),
        Seq((key.map(_ + 1), 30L, "b")), Seq((key.map(_ + 2), 40L, "c")))
      def write(i: Int): Int = {
        val df = batches(i).toDF("k", "y", "p")
        if (i == 0) SnapshotLog.create(spark, df, path, "k")
        else SnapshotLog.append(spark, df, path, "k")
      }
      def rows = SnapshotLog.read(spark, path)
        .as[(Option[Long], Long, String)].collect().toSet
      write(0); write(1)
      assert(SnapshotLog.compactZOrder(spark, path, "k", "y", slices = 2) == 2)
      assert(rows == batches.take(2).flatten.toSet, s"$name after compactZOrder")
      write(2)
      assert(SnapshotLog.compact(spark, path, "k", slices = 2) == 4)
      assert(rows == batches.flatten.toSet, s"$name after compact(slices = 2)")
    }
  }

  test("followDiff admission control: maxVersions bounds each poll; cursor makes partial progress durable") {
    import spark.implicits._
    val path = tmpDir("admission")
    def rows(lo: Long) = Seq((lo, s"r$lo")).toDF("k", "p")
    SnapshotLog.create(spark, rows(0L), path, "k")
    (1 to 5).foreach(i => SnapshotLog.append(spark, rows(i * 10L), path, "k"))
    // 5 pending commits, 2 per poll: catch-up takes exactly 3 polls
    var polls = 0
    var total = 0
    while (SnapshotLog.cursorVersion(path, "adm").getOrElse(0) < 5) {
      val n = SnapshotLog.followDiff(spark, path, "k", "adm",
        maxVersions = 2) { (_, _) => () }
      polls += 1
      total += n
      val cur = SnapshotLog.cursorVersion(path, "adm").get
      assert(cur == math.min(2 * polls, 5),
        s"poll $polls left cursor at $cur")
      assert(polls <= 3, "admission control failed to converge in 3 polls")
    }
    assert(polls == 3 && total == 5)
    // caught up: the next poll is a no-op
    assert(SnapshotLog.followDiff(spark, path, "k", "adm",
      maxVersions = 2) { (_, _) => () } == 0)
  }
}
