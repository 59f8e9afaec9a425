package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Accessibility
import graft.sources.{Exports, GeoJson}

class SourcesSpec extends AnyFunSuite {
  import TestSession._

  private def tmpDir(name: String): String = {
    val d = new java.io.File(s"target/tmp-sources/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  test("ShardSink: round trip verifies, placement deterministic, shards balanced") {
    import graft.sources.ShardSink
    val docs = Tables.documents(spark, sf)
    val nShards = 8
    val path = tmpDir("shards")
    ShardSink.writeShards(docs, path, nShards)
    // layout: exactly one parquet file per shard directory
    (0 until nShards).foreach { s =>
      val files = new java.io.File(s"$path/shard=$s")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $s has ${files.length} files")
    }
    // manifest verification: every shard ok, count conserved
    val verdicts = ShardSink.verifyShards(spark, path).collect()
    assert(verdicts.length == nShards)
    assert(verdicts.forall(_.getBoolean(2)), "manifest mismatch")
    assert(verdicts.map(_.getLong(1)).sum == docs.count())
    // the manifest, decoded on the driver as verifyShards reads it
    def manifest = graft.sources.ParquetFooter.rows(spark,
      new org.apache.hadoop.fs.Path(s"$path/_manifest"))
    // determinism: a rewrite yields the byte-identical manifest
    val m1 = manifest._2.map(_.toSeq).toSet
    ShardSink.writeShards(docs, path, nShards)
    val m2 = manifest._2.map(_.toSeq).toSet
    assert(m1 == m2, "rerun changed the manifest")
    // hash balance: no shard more than 2x the uniform share
    val counts = verdicts.map(_.getLong(1))
    assert(counts.max <= 2 * docs.count() / nShards,
      s"skewed shards: ${counts.mkString(",")}")
    // tamper detection: a corrupted manifest row must fail verification
    // (a local frame over the decoded rows: no lazy scan of the path
    // the overwrite replaces)
    val tampered = spark.createDataFrame(
        java.util.Arrays.asList(manifest._2: _*), manifest._1)
      .withColumn("checksum",
        when(col("shard") === 0, col("checksum") + 1L)
          .otherwise(col("checksum")))
    tampered.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/_manifest")
    val after = ShardSink.verifyShards(spark, path).collect()
    assert(after.count(!_.getBoolean(2)) == 1, "tamper went undetected")
    // LOST shard: a manifest row with no data directory must surface
    // as ok = FALSE (not a null the verdict filter would drop) — the
    // null-propagating === regression the r9 advice flagged
    val lostPath = tmpDir("shards_lost")
    ShardSink.writeShards(docs, lostPath, nShards)
    def rmRf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRf)
      f.delete()
    }
    rmRf(new java.io.File(s"$lostPath/shard=3"))
    val lost = ShardSink.verifyShards(spark, lostPath).collect()
    assert(lost.length == nShards, "lost shard row vanished from verdicts")
    val lostRow = lost.find(_.getInt(0) == 3).get
    assert(!lostRow.isNullAt(2) && !lostRow.getBoolean(2),
      "lost shard must verdict ok=false, not null")
    assert(lost.count(!_.getBoolean(2)) == 1)
  }

  test("GeoJSONL write -> read round-trips point features") {
    import spark.implicits._
    val df = Seq((1L, 10.5, -3.25, "alpha"), (2L, -120.0, 45.5, "beta"))
      .toDF("id", "lon", "lat", "name")
    val path = tmpDir("points_jsonl")
    GeoJson.writePointsJsonl(df, "lon", "lat", path)
    val back = GeoJson.readPoints(spark, path, featureCollection = false)
    val rows = back.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("lon") == 10.5)
    assert(rows(0).getAs[Double]("lat") == -3.25)
    assert(rows(0).getAs[String]("name") == "alpha")
  }

  test("FeatureCollection export is valid GeoJSON and read back") {
    import spark.implicits._
    val df = Seq((1L, 2.0, 3.0), (2L, 4.0, 5.0)).toDF("id", "lon", "lat")
    val dir = tmpDir("fc")
    new java.io.File(dir).mkdirs()
    val file = s"$dir/out.geojson"
    GeoJson.writeFeatureCollection(df, "lon", "lat", file)
    val txt = new String(Files.readAllBytes(java.nio.file.Paths.get(file)))
    assert(txt.startsWith("""{"type":"FeatureCollection""""))
    val back = GeoJson.readPoints(spark, file, featureCollection = true)
    assert(back.count() == 2)
  }

  test("accessibility results export as GeoJSON with eta properties") {
    val eta = Accessibility.nearestPoi(spark, sf)
      .groupBy("c_custkey").pivot("poi_type", Seq(0, 1, 2, 3)).sum("eta_s")
      .withColumnRenamed("0", "eta-0").withColumnRenamed("1", "eta-1")
      .withColumnRenamed("2", "eta-2").withColumnRenamed("3", "eta-3")
      .join(Tables.customer(spark, sf), "c_custkey")
      .withColumn("lon", graft.functions.GeoFunctions.lonOf(col("c_custkey")))
      .withColumn("lat", graft.functions.GeoFunctions.latOf(col("c_custkey")))
      .select("c_custkey", "lon", "lat", "eta-0", "eta-1", "eta-2", "eta-3")
    val path = tmpDir("eta_geojsonl")
    GeoJson.writePointsJsonl(eta, "lon", "lat", path)
    val back = spark.read.json(path)
    assert(back.count() == eta.count())
    assert(back.select("properties.*").columns.contains("eta-0"))
  }

  test("flatten turns nested structs into dotted columns") {
    import spark.implicits._
    val df = Seq((1, ("school", 120.5), "x")).toDF("id", "poi", "tag")
      .select(col("id"), struct(col("poi._1").as("type"),
        col("poi._2").as("eta")).as("poi"), col("tag"))
    val flat = Exports.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "poi.type", "poi.eta", "tag"))
    assert(flat.head().getDouble(2) == 120.5)
  }

  test("flat CSV export writes dotted headers") {
    import spark.implicits._
    val df = Seq((1, ("a", 2.0))).toDF("id", "poi")
      .select(col("id"), struct(col("poi._1").as("t"), col("poi._2").as("v")).as("poi"))
    val path = tmpDir("csv")
    Exports.writeFlatCsv(df, path)
    val header = spark.read.option("header", "false").csv(path).head().toSeq
    // read raw first line
    val firstLine = spark.read.text(path).filter(col("value").contains("poi.")).count()
    assert(firstLine >= 1)
  }

  test("polygon read infers Polygon vs MultiPolygon from coordinate depth") {
    import spark.implicits._
    // one Polygon (triangle), one MultiPolygon (two squares), hand-written
    // JSON so the read path exercises real GeoJSON, not our own writer
    val lines = Seq(
      """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0.0,0.0],[4.0,0.0],[0.0,4.0],[0.0,0.0]]]},"properties":{"name":"tri"}}""",
      """{"type":"Feature","geometry":{"type":"MultiPolygon","coordinates":[[[[10.0,10.0],[12.0,10.0],[12.0,12.0],[10.0,12.0],[10.0,10.0]]],[[[20.0,20.0],[22.0,20.0],[22.0,22.0],[20.0,22.0],[20.0,20.0]]]]},"properties":{"name":"two-sq"}}""")
    val path = tmpDir("polys")
    lines.toDF("value").coalesce(1).write.text(path)
    val got = GeoJson.readPolygonsJsonl(spark, path).orderBy("name").collect()
    assert(got.length == 2)
    val tri = got.find(_.getString(0) == "tri").get
    assert(tri.getString(3) == "Polygon" && tri.getString(1) == "Polygon")
    val sq = got.find(_.getString(0) == "two-sq").get
    assert(sq.getString(3) == "MultiPolygon")
    // normalized rings: tri has 1 polygon, two-sq has 2
    assert(tri.getSeq[Any](2).length == 1 && sq.getSeq[Any](2).length == 2)
  }

  test("polygon read survives corrupt and non-polygon lines") {
    import spark.implicits._
    val lines = Seq(
      """{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0.0,0.0],[1.0,0.0],[0.0,1.0],[0.0,0.0]]]},"properties":{"name":"ok"}}""",
      """not json at all""",
      """{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0]},"properties":{"name":"a point"}}""")
    val path = tmpDir("polys_dirty")
    lines.toDF("value").coalesce(1).write.text(path)
    val got = GeoJson.readPolygonsJsonl(spark, path).collect()
    assert(got.length == 1 && got.head.getString(0) == "ok")
  }

  test("polygon write -> read round-trips and supports point-in-poly") {
    import spark.implicits._
    val rings = Seq(Seq(Seq(Seq(0.0, 0.0), Seq(4.0, 0.0), Seq(0.0, 4.0), Seq(0.0, 0.0))))
    val df = Seq(("area1", rings)).toDF("name", "rings")
    val path = tmpDir("polys_rt")
    GeoJson.writePolygonsJsonl(df, "name", "rings", path)
    val back = GeoJson.readPolygonsJsonl(spark, path).head()
    assert(back.getString(0) == "area1" && back.getString(3) == "MultiPolygon")
    // outer ring of the first polygon drives the ray-cast expression
    val outer = df.select(element_at(col("rings"), 1).as("poly"))
      .select(element_at(col("poly"), 1).as("ring"))
      .select(transform(col("ring"), p => element_at(p, 2)).as("lats"),
        transform(col("ring"), p => element_at(p, 1)).as("lons"))
    val hit = outer.select(graft.functions.GeoFunctions.point_in_poly(
      lit(1.0), lit(1.0), col("lats"), col("lons")).as("in"),
      graft.functions.GeoFunctions.point_in_poly(
        lit(3.9), lit(3.9), col("lats"), col("lons")).as("out")).head()
    assert(hit.getBoolean(0) && !hit.getBoolean(1))
  }

  test("normalized two-table write joins back to the denormalized rows") {
    val eta = Accessibility.nearestPoi(spark, sf)
    val dir = tmpDir("normalized")
    Exports.writeNormalized(eta, Seq("c_custkey"), Seq("poi_type", "eta_s"), dir)
    val parent = spark.read.parquet(s"$dir/results.parquet")
    val child = spark.read.parquet(s"$dir/results_child.parquet")
    assert(parent.columns.toSeq == Seq("c_custkey"))
    assert(child.columns.toSeq == Seq("c_custkey", "poi_type", "eta_s"))
    assert(parent.count() == eta.select("c_custkey").distinct().count())
    assert(child.count() == eta.count())
    // FK integrity: every child row joins to exactly one parent
    assert(child.join(parent, Seq("c_custkey")).count() == child.count())
  }

  test("writeGroupedJson emits one `\"key\": [...]` JSON line per key, quoting scalars") {
    import spark.implicits._
    val df = Seq(("area \"A\"", 1, 10.0), ("area \"A\"", 2, 20.0), (null: String, 3, 30.0))
      .toDF("area", "origin", "eta")
    val path = tmpDir("grouped_json")
    Exports.writeGroupedJson(df.filter(col("area").isNotNull), "area", path)
    val lines = spark.read.text(path).as[String].collect().sorted
    assert(lines.length == 1)
    // the key must be a JSON-escaped string and the payload a JSON array
    assert(lines(0).startsWith("\"area \\\"A\\\"\": ["), lines(0))
    // numeric key variant stays unquoted
    val num = Seq((7L, "x")).toDF("area_id", "v")
    val path2 = tmpDir("grouped_json_num")
    Exports.writeGroupedJson(num, "area_id", path2)
    val l2 = spark.read.text(path2).as[String].head()
    assert(l2.startsWith("7: ["), l2)
    // a null key encodes as the JSON literal, not a malformed empty key
    val path3 = tmpDir("grouped_json_null")
    Exports.writeGroupedJson(df.filter(col("area").isNull), "area", path3)
    val l3 = spark.read.text(path3).as[String].head()
    assert(l3.startsWith("null: ["), l3)
  }

  test("grouped JSON groups rows per key with parseable arrays") {
    import spark.implicits._
    val df = Seq(("areaA", 1, 10.0), ("areaA", 2, 20.0), ("areaB", 3, 30.0))
      .toDF("area", "origin", "eta")
    val out = Exports.groupedJson(df, "area").orderBy("area").collect()
    assert(out.length == 2)
    val arr = out(0).getString(1)
    assert(arr.startsWith("[") && arr.contains("\"origin\":1") && arr.contains("\"origin\":2"))
  }

  test("ORC round-trip preserves rows; scan prunes columns and pushes filters") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("orc-docs")
    val docs = Tables.documents(spark, sf)
    graft.sources.Orc.write(docs, dir)
    // read back under the full declared schema: row-for-row identical
    val full = graft.sources.Orc.read(spark, dir,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType), StructField("lang", StringType),
        StructField("source", StringType),
        StructField("n_chars", LongType))))
    assert(full.count() == docs.count())
    assert(full.orderBy("doc_id").collect().map(_.getString(1)).toSeq ==
      docs.orderBy("doc_id").collect().map(_.getString(1)).toSeq)
    // a narrow contract reads only its columns, and the filter reaches
    // the ORC scan (the pruning/pushdown posture must survive the format)
    val narrow = graft.sources.Orc.read(spark, dir,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("n_chars", LongType))))
      .filter(col("n_chars") > 100)
    val scan = narrow.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"ORC scan did not prune columns:\n$scan")
    assert(scan.contains("PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]"),
      s"filter not pushed into the ORC scan:\n$scan")
    assert(narrow.count() ==
      docs.filter(col("n_chars") > 100).count())
  }

  test("SnapshotLog: time travel, upsert semantics, version history") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog")
    def rowsOf(v: Option[Int] = None): Set[(Long, String)] =
      SnapshotLog.read(spark, path, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val v0data = (0L until 100L).map(i => (i, s"v0-$i"))
    assert(SnapshotLog.create(spark, v0data.toDF("k", "payload"),
      path, "k") == 0)
    assert(rowsOf() == v0data.toSet)
    // append a disjoint key range -> version 1
    val v1data = (1000L until 1100L).map(i => (i, s"v1-$i"))
    assert(SnapshotLog.append(spark, v1data.toDF("k", "payload"),
      path, "k") == 1)
    assert(rowsOf() == (v0data ++ v1data).toSet)
    // upsert: 10 updates into v0's range + 5 brand-new keys -> version 2
    val up = (0L until 10L).map(i => (i, s"v2-$i")) ++
      (5000L until 5005L).map(i => (i, s"new-$i"))
    assert(SnapshotLog.upsert(spark, up.toDF("k", "payload"),
      path, "k") == 2)
    val want2 = (v0data.drop(10) ++ v1data ++ up).toSet
    assert(rowsOf() == want2, "merge semantics: replace matches, insert rest")
    // TIME TRAVEL: every prior version still reads byte-for-byte intact
    assert(rowsOf(Some(0)) == v0data.toSet, "v0 immutable after upsert")
    assert(rowsOf(Some(1)) == (v0data ++ v1data).toSet)
    // history: monotone versions with the expected row totals
    val hist = SnapshotLog.history(spark, path).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // the upsert's key range [0, 5004] spans BOTH prior segments, so
    // range pruning (correctly, conservatively) rewrites both into one
    // merged segment — a wide-spread upsert costs pruning; the
    // copy-on-write spec below exercises the confined-range case
    assert(hist.toSeq == Seq((0, 1L, 100L), (1, 2L, 200L), (2, 1L, 205L)))
  }

  test("SnapshotLog: copy-on-write prunes by key range; torn commits invisible") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_cow")
    SnapshotLog.create(spark,
      (0L until 100L).map(i => (i, "a")).toDF("k", "p"), path, "k")
    SnapshotLog.append(spark,
      (1000L until 1100L).map(i => (i, "b")).toDF("k", "p"), path, "k")
    val segsBefore = SnapshotLog.manifest(spark, path, 1)
      .select(col("seg"), col("min_key")).collect()
      .map(r => r.getLong(1) -> r.getString(0)).toMap
    // upsert confined to the FIRST segment's key range: the second
    // segment must ride into the new manifest by reference (same dir),
    // never rewritten — segment-granularity copy-on-write
    SnapshotLog.upsert(spark,
      (0L until 5L).map(i => (i, "a2")).toDF("k", "p"), path, "k")
    val segs2 = SnapshotLog.manifest(spark, path, 2)
      .select(col("seg")).collect().map(_.getString(0)).toSet
    assert(segs2.contains(segsBefore(1000L)),
      "out-of-range segment must be carried forward by reference")
    assert(!segs2.contains(segsBefore(0L)),
      "in-range segment must be rewritten")
    // key stats in the manifest match the data they describe
    SnapshotLog.manifest(spark, path, 2).collect().foreach { r =>
      val (dir, lo, hi) = (r.getAs[String]("seg"),
        r.getAs[Long]("min_key"), r.getAs[Long]("max_key"))
      val Array(alo, ahi) = spark.read.parquet(dir)
        .agg(min(col("k")), max(col("k"))).collect().head
        .toSeq.map(_.asInstanceOf[Long]).toArray
      assert(lo == alo && hi == ahi, s"stats drift for $dir")
    }
    // TORN COMMIT: a manifest directory for a "future" version that
    // never advanced LATEST is invisible to readers (manifest-last
    // protocol) — and so is a stray data directory nothing references
    Seq(("zzz-bogus", 1L, 1L, 1L)).toDF("seg", "n_rows", "min_key", "max_key")
      .write.parquet(s"$path/_log/v00099")
    (0L until 3L).map(i => (i, "junk")).toDF("k", "p")
      .write.parquet(s"$path/data/c99999-0")
    assert(SnapshotLog.latestVersion(path).contains(2))
    assert(SnapshotLog.read(spark, path).count() == 200)
  }

  test("SnapshotLog: compaction preserves every version read; GC refuses pinned versions") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_gc")
    def rowsOf(v: Option[Int] = None): Set[(Long, String)] =
      SnapshotLog.read(spark, path, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    // build an upsert-heavy history: v0 create + three appends of
    // small segments -> v3 has 4 segments
    SnapshotLog.create(spark,
      (0L until 50L).map(i => (i, s"c$i")).toDF("k", "p"), path, "k")
    (1 to 3).foreach { b =>
      SnapshotLog.append(spark, (b * 1000L until b * 1000L + 50L)
        .map(i => (i, s"a$b-$i")).toDF("k", "p"), path, "k")
    }
    val preCompact = (0 to 3).map(v => v -> rowsOf(Some(v))).toMap
    assert(SnapshotLog.manifest(spark, path, 3).count() == 4)
    // COMPACT: one new version, ONE segment, same rows; every prior
    // version reads byte-identically (no existing file touched)
    assert(SnapshotLog.compact(spark, path, "k") == 4)
    assert(SnapshotLog.manifest(spark, path, 4).count() == 1)
    assert(rowsOf(Some(4)) == preCompact(3))
    (0 to 3).foreach(v => assert(rowsOf(Some(v)) == preCompact(v),
      s"compaction disturbed the v$v time-travel read"))
    // idempotent: a second compact of the single-segment state is a
    // no-op commit-wise
    assert(SnapshotLog.compact(spark, path, "k") == 4)
    assert(SnapshotLog.latestVersion(path).contains(4))
    // PIN v1, then GC down to the last 2 versions: v0 and v2 expire,
    // v1 survives BECAUSE pinned, v3/v4 by retention
    SnapshotLog.pin(path, 1)
    val expired = SnapshotLog.gc(spark, path, retainLast = 2)
    assert(expired == Seq(0, 2), s"expired $expired")
    assert(rowsOf(Some(1)) == preCompact(1),
      "pinned version must read byte-identically after GC")
    assert(rowsOf(Some(3)) == preCompact(3) && rowsOf(Some(4)) == preCompact(3))
    // expired versions are genuinely gone (manifest deleted)
    intercept[Exception] { rowsOf(Some(0)) }
    // history now lists only surviving versions
    assert(SnapshotLog.history(spark, path).collect()
      .map(_.getInt(0)).toSeq == Seq(1, 3, 4))
    // unpin + GC again: v1 now expires too; the survivors still read
    SnapshotLog.unpin(path, 1)
    assert(SnapshotLog.gc(spark, path, retainLast = 2) == Seq(1))
    intercept[Exception] { rowsOf(Some(1)) }
    assert(rowsOf(Some(4)) == preCompact(3))
    // GC of everything but latest keeps the table serving
    assert(SnapshotLog.gc(spark, path, retainLast = 1) == Seq(3))
    assert(rowsOf() == preCompact(3))
    // pinning a non-existent version is refused outright
    intercept[IllegalArgumentException] { SnapshotLog.pin(path, 77) }
  }

  test("SnapshotLog: zorder compaction tiles both columns; readBox prunes; later append degrades conservatively") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_zorder")
    // a 32x32 grid written as four arrival-order segments, each
    // spanning the whole plane — worst case for stats pruning
    val pts = for (x <- 0L until 32L; y <- 0L until 32L)
      yield (x * 32L + y, x, y)
    SnapshotLog.create(spark,
      pts.filter(_._1 % 4 == 0).toDF("k", "x", "y"), path, "x")
    (1 to 3).foreach(i => SnapshotLog.append(spark,
      pts.filter(_._1 % 4 == i).toDF("k", "x", "y"), path, "x"))
    val pre = SnapshotLog.read(spark, path).collect()
      .map(_.getLong(0)).toSet
    // zorder: x,y in [0,31] -> bins == coords, z in [0,1023], width
    // 1023/16+1 = 64 -> each slice is EXACTLY one 8x8 tile of the
    // 4x4 tile grid (the arithmetic the operator oracle re-derives)
    assert(SnapshotLog.compactZOrder(spark, path, "x", "y",
      slices = 16) == 4)
    val m = SnapshotLog.manifest(spark, path, 4).collect()
    assert(m.length == 16)
    assert(m.forall { r =>
      val y = r.getMap[String, org.apache.spark.sql.Row](
        r.fieldIndex("stats"))("y")
      r.getAs[Long]("max_key") - r.getAs[Long]("min_key") == 7L &&
        y.getLong(1) - y.getLong(0) == 7L
    }, "every z slice must be a compact 8x8 tile on BOTH axes")
    assert(m.map(_.getAs[Long]("n_rows")).sum == pts.length)
    // time travel to the pre-compaction version is untouched
    assert(SnapshotLog.read(spark, path, Some(3)).collect()
      .map(_.getLong(0)).toSet == pre)
    // 2-D box == one tile; x-only probe == one tile column (4/16)
    val (box, sBox, tot) = SnapshotLog.readBox(spark, path, "x", "y",
      8L, 15L, 8L, 15L)
    assert(tot == 16 && sBox == 1, s"box scanned $sBox/$tot")
    assert(box.collect().map(_.getLong(0)).toSet ==
      pts.filter(t => t._2 >= 8 && t._2 <= 15 && t._3 >= 8 && t._3 <= 15)
        .map(_._1).toSet)
    val (_, sX, _) = SnapshotLog.readBox(spark, path, "x", "y",
      8L, 15L, 0L, 31L)
    val (_, sY, _) = SnapshotLog.readBox(spark, path, "x", "y",
      0L, 31L, 8L, 15L)
    assert(sX == 4 && sY == 4, s"single-axis probes scanned $sX/$sY")
    // an append AFTER zorder carries null second-column stats: a row
    // inside the box's x range but outside its y range is scanned
    // (conservative, +1) yet filtered — the result set is unchanged
    SnapshotLog.append(spark, Seq((9999L, 9L, 100L)).toDF("k", "x", "y"),
      path, "x")
    val (box2, sBox2, tot2) = SnapshotLog.readBox(spark, path, "x", "y",
      8L, 15L, 8L, 15L)
    assert(tot2 == 17 && sBox2 == 2,
      s"null-stats segment must be scanned conservatively, got $sBox2/$tot2")
    assert(box2.collect().map(_.getLong(0)).toSet ==
      box.collect().map(_.getLong(0)).toSet)
  }

  test("SnapshotLog: crashed segment attempts never block a retry; gc sweeps unreferenced orphans") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_orphan")
    SnapshotLog.create(spark,
      (0L until 40L).map(i => (i, s"c$i")).toDF("k", "p"), path, "k")
    // CRASH SIMULATION: a merge attempt for v1 wrote its segment and
    // died before commit. With the old deterministic c{v}-{idx} names
    // this dir made the retry's errorifexists write fail FOREVER; with
    // attempt-unique names it is just an unreachable orphan.
    val orphan = java.nio.file.Paths.get(path, "data", "c00001-0-deadbeef")
    (0L until 5L).map(i => (i, "torn")).toDF("k", "p")
      .write.parquet(orphan.toString)
    assert(SnapshotLog.latestVersion(path).contains(0),
      "a torn segment with no commit must stay invisible")
    // the retry commits v1 cleanly
    assert(SnapshotLog.upsert(spark,
      (10L until 20L).map(i => (i, s"u$i")).toDF("k", "p"), path, "k") == 1)
    val rows = SnapshotLog.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(rows.size == 40 && rows(15L) == "u15" && rows(5L) == "c5")
    // gc — even with nothing expired — sweeps the orphan and keeps
    // every referenced segment
    assert(java.nio.file.Files.exists(orphan))
    assert(SnapshotLog.gc(spark, path, retainLast = 10).isEmpty)
    assert(!java.nio.file.Files.exists(orphan),
      "unreferenced orphan segment must be reclaimed")
    assert(SnapshotLog.read(spark, path, Some(0)).count() == 40)
    assert(SnapshotLog.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap == rows)
  }

  test("SnapshotLog: staged batches invisible until publish; abandon + stage-aware gc reclaim") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_wap")
    SnapshotLog.create(spark,
      (0L until 30L).map(i => (i, s"c$i")).toDF("k", "p"), path, "k")
    // STAGE: real files on disk, but no committed reader sees them
    SnapshotLog.stage(spark,
      (100L until 110L).map(i => (i, s"s$i")).toDF("k", "p"), path,
      "k", "batch1")
    assert(SnapshotLog.latestVersion(path).contains(0))
    assert(SnapshotLog.read(spark, path).count() == 30,
      "staged rows must be invisible to committed readers")
    assert(SnapshotLog.readStaged(spark, path, "batch1").count() == 40,
      "the staged view composes latest with the delta")
    // gc with the stage OPEN must keep its segments (they are
    // referenced by the staged manifest, not by any version)
    assert(SnapshotLog.gc(spark, path, retainLast = 10).isEmpty)
    assert(SnapshotLog.readStaged(spark, path, "batch1").count() == 40,
      "gc must not reclaim an open stage's segments")
    // PUBLISH: one atomic commit; the stage is gone
    assert(SnapshotLog.publishStage(spark, path, "batch1") == 1)
    assert(!SnapshotLog.stageExists(path, "batch1"))
    assert(SnapshotLog.read(spark, path).count() == 40)
    assert(SnapshotLog.read(spark, path, Some(0)).count() == 30)
    // ABANDON: a second batch fails its audit; after abandon + gc its
    // data dir is physically reclaimed
    SnapshotLog.stage(spark,
      (200L until 205L).map(i => (i, "bad")).toDF("k", "p"), path,
      "k", "batch2")
    val dataDirs = new java.io.File(s"$path/data")
    val before = dataDirs.listFiles().length
    SnapshotLog.abandonStage(path, "batch2")
    assert(!SnapshotLog.stageExists(path, "batch2"))
    assert(SnapshotLog.read(spark, path).count() == 40)
    assert(SnapshotLog.gc(spark, path, retainLast = 10).isEmpty)
    assert(dataDirs.listFiles().length == before - 1,
      "the abandoned stage's segment must be swept")
    assert(SnapshotLog.read(spark, path).count() == 40)
  }

  test("SnapshotLog: streaming CDC commits one version per batch, deletes land") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("snaplog_stream")
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Double)]
    val df = mem.toDF().toDF("event_id", "user_id", "op", "value")
    val q = SnapshotLog.streamCdc(df, path, "user_id", "op",
      Seq("event_id"))
    def state(v: Option[Int] = None): Map[Long, (Long, Double)] =
      SnapshotLog.read(spark, path, v).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("event_id"), r.getAs[Double]("value")))).toMap
    try {
      mem.addData((1L, 1L, "upsert", 1.0), (2L, 2L, "upsert", 2.0))
      q.processAllAvailable()
      assert(SnapshotLog.latestVersion(path).contains(0))
      assert(state() == Map(1L -> ((1L, 1.0)), 2L -> ((2L, 2.0))))
      // batch 2: update key 1, insert key 3, DELETE key 2
      mem.addData((3L, 1L, "upsert", 3.0), (4L, 3L, "upsert", 4.0),
        (5L, 2L, "delete", 0.0))
      q.processAllAvailable()
      assert(SnapshotLog.latestVersion(path).contains(1))
      assert(state() == Map(1L -> ((3L, 3.0)), 3L -> ((4L, 4.0))))
      // batch 3 arrives OUT OF ORDER inside the batch: the later
      // event_id (7, upsert) must beat the earlier delete (6)
      mem.addData((7L, 3L, "upsert", 7.0), (6L, 3L, "delete", 0.0))
      q.processAllAvailable()
      assert(SnapshotLog.latestVersion(path).contains(2))
      assert(state()(3L) == ((7L, 7.0)), "in-batch fold must be ordered")
      // TIME TRAVEL across stream batches: version 0 is still intact
      assert(state(Some(0)) == Map(1L -> ((1L, 1.0)), 2L -> ((2L, 2.0))))
      // convergence: the streamed table equals the one-shot batch fold
      // of the entire changelog (the cdc_merge batch==stream contract)
      val all = Seq((1L, 1L, "upsert", 1.0), (2L, 2L, "upsert", 2.0),
        (3L, 1L, "upsert", 3.0), (4L, 3L, "upsert", 4.0),
        (5L, 2L, "delete", 0.0), (7L, 3L, "upsert", 7.0),
        (6L, 3L, "delete", 0.0))
        .toDF("event_id", "user_id", "op", "value")
      val expect = all.groupBy(col("user_id"))
        .agg(max_by(struct(col("op"), col("event_id"), col("value")),
          col("event_id")).as("l"))
        .filter(col("l.op") =!= "delete")
        .collect().map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[org.apache.spark.sql.Row]("l").getAs[Long]("event_id"),
            r.getAs[org.apache.spark.sql.Row]("l").getAs[Double]("value"))))
        .toMap
      assert(state() == expect)
    } finally q.stop()
  }

  test("SnapshotLog: full lifecycle over an explicit file:-scheme Hadoop path") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    // the Hadoop-FS port's acceptance test: every verb through a
    // scheme-qualified URI (the shape an hdfs:// or abfs:// root takes),
    // never a bare local path
    val path = "file:" + tmpDir("snaplog_hadoop")
    assert(SnapshotLog.create(spark,
      (0L until 60L).map(i => (i, s"c$i")).toDF("k", "p"), path, "k") == 0)
    assert(SnapshotLog.append(spark,
      (1000L until 1050L).map(i => (i, "b")).toDF("k", "p"), path, "k") == 1)
    assert(SnapshotLog.upsert(spark,
      (10L until 15L).map(i => (i, "u")).toDF("k", "p"), path, "k") == 2)
    assert(SnapshotLog.merge(spark,
      Seq((1000L, "x", true), (2000L, "n", false))
        .toDF("k", "p", "del"), path, "k", "del") == 3)
    def rows(v: Option[Int]): Map[Long, String] =
      SnapshotLog.read(spark, path, v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
    val latest = rows(None)
    assert(latest.size == 60 + 50 - 1 + 1 && latest(10L) == "u" &&
      latest(2000L) == "n" && !latest.contains(1000L))
    // time travel across the URI path
    assert(rows(Some(0)) == (0L until 60L).map(i => i -> s"c$i").toMap)
    assert(rows(Some(1)).size == 110 && rows(Some(1))(10L) == "c10")
    // pin + gc through the same FileSystem
    SnapshotLog.pin(path, 0)
    assert(SnapshotLog.gc(spark, path, retainLast = 1) == Seq(1, 2))
    assert(rows(Some(0)).size == 60, "pinned v0 must survive gc")
    assert(rows(None) == latest)
    assert(SnapshotLog.history(spark, path).collect()
      .map(_.getInt(0)).toSeq == Seq(0, 3))
  }

  test("SnapshotLog: concurrent committers of one version — exactly one wins") {
    import spark.implicits._
    import graft.sources.{ConcurrentCommitException, SnapshotLog}
    val path = tmpDir("snaplog_race")
    SnapshotLog.create(spark,
      (0L until 20L).map(i => (i, "base")).toDF("k", "p"), path, "k")
    // both writers have already computed v = latest + 1 = 1 (the race
    // window): start them together and let the commit rename adjudicate
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    val threads = Seq("w1", "w2").map { name =>
      new Thread(() => {
        try {
          barrier.await()
          results.put(name, SnapshotLog.appendAt(spark,
            (100L until 110L).map(i => (i, name)).toDF("k", "p"),
            path, "k", v = 1))
        } catch { case e: Throwable => results.put(name, e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val outcomes = Seq("w1", "w2").map(results.get)
    val winners = outcomes.collect { case v: Integer => v }
    val losers = outcomes.collect { case e: ConcurrentCommitException => e }
    assert(winners == Seq(1) && losers.length == 1,
      s"expected exactly one winner and one clean loser, got $outcomes")
    // the committed v1 is internally consistent: base + exactly ONE
    // writer's rows (never a mix)
    val v1 = SnapshotLog.read(spark, path, Some(1)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(v1.size == 30)
    val tags = v1.filter(_._1 >= 100L).values.toSet
    assert(tags.size == 1 && (tags == Set("w1") || tags == Set("w2")),
      s"v1 mixed rows from both writers: $tags")
    // the loser's orphaned segment is reclaimed by gc, the winner's kept
    SnapshotLog.gc(spark, path, retainLast = 10)
    assert(SnapshotLog.read(spark, path, Some(1)).count() == 30)
    // life goes on: a normal append commits v2 on top of the winner
    assert(SnapshotLog.append(spark,
      Seq((500L, "after")).toDF("k", "p"), path, "k") == 2)
    assert(SnapshotLog.read(spark, path).count() == 31)
  }

  test("SnapshotLog: diff classifies inserts/updates/deletes and drops carried survivors; readRange prunes by stats") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_diff")
    SnapshotLog.create(spark,
      (0L until 100L).map(i => (i, s"a$i")).toDF("k", "p"), path, "k")
    SnapshotLog.append(spark,
      (1000L until 1100L).map(i => (i, s"b$i")).toDF("k", "p"), path, "k")
    // diff across an append: every appended row is an insert, nothing
    // from the untouched base segment appears
    val d01 = SnapshotLog.diff(spark, path, 0, 1, "k")
      .select(col("k"), col("change")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(d01.length == 100 && d01.forall(t => t._2 == "insert" &&
      t._1 >= 1000L))
    // upsert confined to the base segment's range: segment B must ride
    // by reference, and the diff must contain ONLY the 5 updated keys —
    // the other 95 rewritten-survivor rows are identical on both sides
    SnapshotLog.upsert(spark,
      (0L until 5L).map(i => (i, s"A$i")).toDF("k", "p"), path, "k")
    val d12 = SnapshotLog.diff(spark, path, 1, 2, "k")
      .select(col("k"), col("change")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(d12.sortBy(_._1).toSeq ==
      (0L until 5L).map(i => (i, "update")).toSeq,
      s"expected 5 updates, got ${d12.toSeq}")
    // a merge with deletes shows as deletes; cross-version diff (0 -> 3)
    // composes the whole history
    SnapshotLog.merge(spark,
      Seq((7L, "x", true), (2000L, "n", false)).toDF("k", "p", "del"),
      path, "k", "del")
    val d23 = SnapshotLog.diff(spark, path, 2, 3, "k")
      .select(col("k"), col("change")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(d23.toSeq == Seq((7L, "delete"), (2000L, "insert")))
    val d03 = SnapshotLog.diff(spark, path, 0, 3, "k")
      .select(col("k"), col("change")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(d03(7L) == "delete" && d03(0L) == "update" &&
      d03(2000L) == "insert" && d03(1000L) == "insert" &&
      !d03.contains(50L))
    // stats-pruned range read at pinned v2 (two disjoint-range
    // segments): only the segment whose [min,max] overlaps is scanned,
    // and the row set equals a direct filter
    val (rows, scanned, total) =
      SnapshotLog.readRange(spark, path, "k", 1000L, 1050L, Some(2))
    assert(scanned == 1 && total == 2,
      s"range read must prune to the one overlapping segment " +
        s"($scanned/$total)")
    assert(rows.count() == 51)
    val (r2, s2, _) =
      SnapshotLog.readRange(spark, path, "k", 5000L, 6000L, Some(2))
    assert(s2 == 0 && r2.count() == 0, "empty overlap scans nothing")
  }

  test("SnapshotLog: stale LATEST hint rolls forward to the true committed version") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_hint")
    SnapshotLog.create(spark,
      (0L until 10L).map(i => (i, "a")).toDF("k", "p"), path, "k")
    SnapshotLog.append(spark,
      (100L until 110L).map(i => (i, "b")).toDF("k", "p"), path, "k")
    SnapshotLog.append(spark,
      (200L until 210L).map(i => (i, "c")).toDF("k", "p"), path, "k")
    // crash simulation: a writer died after its commit rename but
    // before advancing the hint — regress the hint to v0 by hand
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_log", "LATEST"),
      "0".getBytes("UTF-8"))
    assert(SnapshotLog.latestVersion(path).contains(2),
      "reader must roll forward past a stale hint")
    assert(SnapshotLog.read(spark, path).count() == 30)
    // a torn/unreadable hint degrades to a scan from v0, same answer
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_log", "LATEST"),
      "garbage".getBytes("UTF-8"))
    assert(SnapshotLog.latestVersion(path).contains(2))
    // and the next commit repairs the hint
    assert(SnapshotLog.append(spark,
      Seq((300L, "d")).toDF("k", "p"), path, "k") == 3)
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_log", "LATEST")), "UTF-8").trim == "3")
  }

  test("SnapshotLog: latestVersion survives retention GC with a missing or expired hint — no history fork") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_gchint")
    SnapshotLog.create(spark,
      (0L until 10L).map(i => (i, "a")).toDF("k", "p"), path, "k")
    (1 to 4).foreach { i =>
      SnapshotLog.append(spark,
        (i * 100L until i * 100L + 10L).map(j => (j, s"b$i"))
          .toDF("k", "p"), path, "k")
    }
    SnapshotLog.gc(spark, path, retainLast = 2) // v0..v2 expired
    assert(!SnapshotLog.manifestExists(path, 0))
    // crash scenario 1: hint file gone entirely — the old v0-up scan
    // hit the retention gap, returned None, and a guarded
    // `if (latestVersion.isEmpty) create` caller would fork history
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(path, "_log", "LATEST"))
    assert(SnapshotLog.latestVersion(path).contains(4),
      "a gc'd table with no hint must still report its true latest")
    // crash scenario 2: stale hint pointing at an EXPIRED version
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "_log", "LATEST"),
      "0".getBytes("UTF-8"))
    assert(SnapshotLog.latestVersion(path).contains(4),
      "a hint below the retention gap must fall back to the log listing")
    assert(SnapshotLog.read(spark, path).count() == 50)
  }

  test("SnapshotLog: mergeOrRebase — disjoint-range losers rebase and commit; overlapping losers are refused") {
    import spark.implicits._
    import graft.sources.{ConcurrentCommitException, SnapshotLog}
    val path = tmpDir("snaplog_rebase")
    // two key-disjoint segments so range conflict detection has
    // something honest to measure
    SnapshotLog.create(spark,
      (0L until 10L).map(i => (i, s"a$i")).toDF("k", "p"), path, "k")
    SnapshotLog.append(spark,
      (100L until 110L).map(i => (i, s"b$i")).toDF("k", "p"), path, "k")
    // writer A wins v2 with a merge over keys [0, 9]
    assert(SnapshotLog.merge(spark,
      (0L until 10L).map(i => (i, s"A$i", false)).toDF("k", "p", "del"),
      path, "k", "del") == 2)
    // writer B read v1, targets v2, loses — but A touched only [0, 9],
    // disjoint from B's [100, 109]: B rebases automatically onto v2
    // and commits v3
    val vB = SnapshotLog.mergeOrRebaseFrom(spark,
      (100L until 110L).map(i => (i, s"B$i", false)).toDF("k", "p", "del"),
      path, "k", "del", baseV = 1)
    assert(vB == 3, s"disjoint loser must rebase-commit v3, got $vB")
    val state = SnapshotLog.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(state.size == 20 && state(0L) == "A0" && state(100L) == "B100",
      "both writers' payloads must serve after the rebase")
    // writer C read v1 too, targets v2, loses — and its keys [5, 6]
    // OVERLAP A's committed [0, 9]: rebase refused, table untouched
    val e = intercept[ConcurrentCommitException] {
      SnapshotLog.mergeOrRebaseFrom(spark,
        Seq((5L, "C5", false), (6L, "C6", false)).toDF("k", "p", "del"),
        path, "k", "del", baseV = 1)
    }
    assert(e.getMessage.contains("OVERLAPPING"))
    assert(SnapshotLog.latestVersion(path).contains(3))
    assert(SnapshotLog.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap.apply(5L) == "A5",
      "a refused rebase must leave the interleaved commit serving")
  }

  test("SnapshotLog: WAP publish onto a z-ordered (stats-mapped-manifest) table") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_wapz")
    SnapshotLog.create(spark,
      (0L until 64L).map(i => (i, i % 8, s"a$i")).toDF("k", "y", "p"),
      path, "k")
    SnapshotLog.append(spark,
      (64L until 128L).map(i => (i, i % 8, s"b$i")).toDF("k", "y", "p"),
      path, "k")
    SnapshotLog.compactZOrder(spark, path, "k", "y", slices = 4)
    // the staged manifest is stats-less; publish must widen it into
    // the stats-mapped latest (appendAt already does; publish
    // regressed once)
    SnapshotLog.stage(spark,
      (128L until 140L).map(i => (i, i % 8, s"c$i")).toDF("k", "y", "p"),
      path, "k", "batch1")
    val v = SnapshotLog.publishStage(spark, path, "batch1")
    assert(SnapshotLog.read(spark, path, Some(v)).count() == 140)
    val m = SnapshotLog.manifest(spark, path, v)
    assert(m.columns.contains("stats"))
    val staged = m.filter(col("min_key") === 128L).collect()
    assert(staged.length == 1 && staged.head.isNullAt(
        staged.head.fieldIndex("stats")),
      "published segments carry a null stats map (prune conservatively)")
  }

  test("SnapshotLog: three-column stats via statsCols — readProbe prunes on every recorded axis") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_3col")
    // k in [0,255], y = k/16 (correlated), w = k/32 (also correlated):
    // z-tiles on (k,y) are tight on w too — w stats come free via
    // statsCols, no third manifest shape
    val rows = (0L until 256L).map(i => (i, i / 16L, i / 32L, s"p$i"))
    SnapshotLog.create(spark,
      rows.filter(_._1 % 2 == 0).toDF("k", "y", "w", "p"), path, "k")
    SnapshotLog.append(spark,
      rows.filter(_._1 % 2 == 1).toDF("k", "y", "w", "p"), path, "k")
    SnapshotLog.compactZOrder(spark, path, "k", "y", slices = 8,
      statsCols = Seq("w"))
    val m = SnapshotLog.manifest(spark, path,
      SnapshotLog.latestVersion(path).get).collect()
    assert(m.forall { r =>
      val s = r.getMap[String, org.apache.spark.sql.Row](
        r.fieldIndex("stats"))
      s.contains("y") && s.contains("w")
    }, "every slice must carry stats entries for BOTH secondary columns")
    // a w-only probe prunes even though w was never a z-order column
    val (rowsW, scannedW, totalW) = SnapshotLog.readProbe(spark, path,
      "k", 0L, 255L, Seq(("w", 2L, 3L)))
    assert(scannedW < totalW,
      s"third-column probe must prune ($scannedW/$totalW)")
    assert(rowsW.count() == rows.count(t => t._3 >= 2L && t._3 <= 3L))
    // and a combined (y, w) probe intersects both maps
    val (rowsYW, scannedYW, _) = SnapshotLog.readProbe(spark, path,
      "k", 0L, 255L, Seq(("y", 4L, 5L), ("w", 2L, 2L)))
    assert(scannedYW <= scannedW)
    assert(rowsYW.count() ==
      rows.count(t => t._2 >= 4L && t._2 <= 5L && t._3 == 2L))
  }

  test("SnapshotLog: a delete-everything merge commits a segment-less manifest that still reads, diffs and range-probes") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_empty")
    SnapshotLog.create(spark,
      (0L until 10L).map(i => (i, s"a$i")).toDF("k", "p"), path, "k")
    // delete every row: the empty replacement segment is elided and v1
    // lists zero segments
    assert(SnapshotLog.merge(spark,
      (0L until 10L).map(i => (i, s"x$i", true)).toDF("k", "p", "del"),
      path, "k", "del") == 1)
    assert(SnapshotLog.manifest(spark, path, 1).count() == 0)
    // read: empty frame under the table schema (anchored from history)
    val r = SnapshotLog.read(spark, path)
    assert(r.count() == 0 && r.columns.toSeq == Seq("k", "p"))
    // diff INTO the empty version: 10 deletes
    val d01 = SnapshotLog.diff(spark, path, 0, 1, "k")
      .select(col("k"), col("change")).collect()
    assert(d01.length == 10 && d01.forall(_.getString(1) == "delete"))
    // range read against the empty version: zero rows, zero scanned
    val (rows, scanned, total) =
      SnapshotLog.readRange(spark, path, "k", 0L, 100L)
    assert(rows.count() == 0 && scanned == 0 && total == 0)
    // 2-D box read takes the same anchored empty path
    val (box, bScanned, bTotal) =
      SnapshotLog.readBox(spark, path, "k", "k", 0L, 100L, 0L, 100L)
    assert(box.count() == 0 && bScanned == 0 && bTotal == 0)
    // life resumes: an append works, and diff FROM the empty version
    // (its side anchored through history) classifies pure inserts
    SnapshotLog.append(spark,
      (50L until 55L).map(i => (i, s"n$i")).toDF("k", "p"), path, "k")
    val d12 = SnapshotLog.diff(spark, path, 1, 2, "k")
      .select(col("k"), col("change")).collect()
    assert(d12.length == 5 && d12.forall(_.getString(1) == "insert"))
  }

  test("SnapshotLog: merge carries per-column stats on by-reference segments — date probes stay pruned") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_zmerge")
    // keys 0..255 with y correlated to k so z-tiles are tight
    SnapshotLog.create(spark,
      (0L until 256L).map(i => (i, i / 16L, s"a$i")).toDF("k", "y", "p"),
      path, "k")
    SnapshotLog.append(spark,
      (256L until 512L).map(i => (i, i / 16L, s"b$i")).toDF("k", "y", "p"),
      path, "k")
    SnapshotLog.compactZOrder(spark, path, "k", "y", slices = 8)
    val vz = SnapshotLog.latestVersion(path).get
    val (_, scannedZ, totalZ) = SnapshotLog.readBox(spark, path, "k", "y",
      0L, 511L, 2L, 5L)
    assert(scannedZ < totalZ, "z-ordered date probe must prune")
    // a narrow merge rewrites ONE key range; every other segment rides
    // by reference WITH its second-column stats
    SnapshotLog.merge(spark,
      Seq((0L, 0L, "A0", false), (1L, 0L, "A1", false))
        .toDF("k", "y", "p", "del"), path, "k", "del")
    val m = SnapshotLog.manifest(spark, path, vz + 1)
    assert(m.columns.contains("stats"),
      "merge onto a z-ordered table must keep the stats-mapped manifest")
    val carried = m.filter(col("stats").isNotNull &&
      map_contains_key(col("stats"), "y")).count()
    assert(carried >= totalZ - 2,
      s"by-reference segments must keep their 2-D stats ($carried kept)")
    // the date probe still prunes AFTER the merge — the production
    // point: skipping survives between OPTIMIZE runs
    val (rowsM, scannedM, totalM) = SnapshotLog.readBox(spark, path,
      "k", "y", 0L, 511L, 2L, 5L)
    assert(scannedM < totalM,
      s"post-merge date probe must still prune ($scannedM/$totalM)")
    assert(rowsM.count() ==
      (0L until 512L).count(i => (i / 16L) >= 2L && (i / 16L) <= 5L))
  }

  test("SnapshotLog followStream: commits landing across micro-batches are delivered in order once; cursor survives restart") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    implicit val sqlCtx = spark.sqlContext
    val path = tmpDir("snaplog_follow")
    SnapshotLog.create(spark,
      (0L until 10L).map(i => (i, s"a$i")).toDF("k", "p"), path, "k")
    val delivered =
      new java.util.concurrent.CopyOnWriteArrayList[(Int, Seq[(Long, String)])]()
    def fn(feed: org.apache.spark.sql.DataFrame, v: Int): Unit = {
      delivered.add((v, feed.select(col("k"), col("change")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq))
      ()
    }
    val ticks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Int]
    val q = SnapshotLog.followStream(ticks.toDF(), path, "k", "spec")(fn)
    try {
      // batch 1: nothing new — a fresh follower bootstraps AT v0
      ticks.addData(1); q.processAllAvailable()
      assert(delivered.isEmpty, "v0 is the bootstrap state, not a change")
      // batch 2: one commit landed
      SnapshotLog.append(spark,
        (100L until 103L).map(i => (i, s"b$i")).toDF("k", "p"), path, "k")
      ticks.addData(2); q.processAllAvailable()
      assert(delivered.size == 1 && delivered.get(0)._1 == 1 &&
        delivered.get(0)._2 == (100L until 103L).map(i => (i, "insert")))
      // batch 3: TWO commits landed between polls — both delivered, in
      // order, each exactly once
      SnapshotLog.upsert(spark,
        Seq((0L, "A0")).toDF("k", "p"), path, "k")
      SnapshotLog.merge(spark,
        Seq((100L, "x", true)).toDF("k", "p", "del"), path, "k", "del")
      ticks.addData(3); q.processAllAvailable()
      assert(delivered.size == 3)
      assert(delivered.get(1)._1 == 2 &&
        delivered.get(1)._2 == Seq((0L, "update")))
      assert(delivered.get(2)._1 == 3 &&
        delivered.get(2)._2 == Seq((100L, "delete")))
      // idle poll: nothing re-delivered
      ticks.addData(4); q.processAllAvailable()
      assert(delivered.size == 3)
    } finally q.stop()
    // the cursor is durable in the table's own log: a RESTARTED
    // follower resumes mid-history instead of replaying
    assert(SnapshotLog.cursorVersion(path, "spec").contains(3))
    // a REWRITE-ONLY commit (OPTIMIZE) between polls: marked at commit,
    // logically empty (ground truth: the explicit diff has no rows),
    // and the follower SKIPS it — no delivery, no full-table diff,
    // cursor still advances past it
    SnapshotLog.compact(spark, path, "k")
    assert(SnapshotLog.isRewriteOnly(path, 4))
    assert(SnapshotLog.diff(spark, path, 3, 4, "k").count() == 0,
      "a compaction's change feed must be logically empty")
    SnapshotLog.append(spark,
      Seq((500L, "c")).toDF("k", "p"), path, "k")
    val n = SnapshotLog.followDiff(spark, path, "k", "spec")(fn)
    assert(n == 1 && delivered.size == 4 && delivered.get(3)._1 == 5 &&
      delivered.get(3)._2 == Seq((500L, "insert")),
      "the follower must skip the rewrite-only commit and deliver only the append")
    assert(SnapshotLog.cursorVersion(path, "spec").contains(5))
    // convergence: replaying the delivered feeds over the bootstrap
    // state reaches exactly read(latest)
    import scala.jdk.CollectionConverters._
    val replayed = delivered.asScala.foldLeft(
      (0L until 10L).map(i => i -> s"a$i").toMap) { case (st, (v, feed)) =>
      feed.foldLeft(st) { case (s, (k, change)) =>
        if (change == "delete") s - k
        else s + (k -> SnapshotLog.read(spark, path, Some(v))
          .filter(col("k") === k).collect().head.getString(1))
      }
    }
    val latest = SnapshotLog.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(replayed == latest,
      "follower-fed replay must converge to the table's latest state")
  }

  test("SnapshotLog: concurrent blind APPENDS both land — the loser rebases its manifest, never rewrites its segment") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_apprace")
    SnapshotLog.create(spark,
      (0L until 10L).map(i => (i, "base")).toDF("k", "p"), path, "k")
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    val threads = Seq(("w1", 100L), ("w2", 200L)).map { case (name, base) =>
      new Thread(() => {
        try {
          barrier.await()
          results.put(name, SnapshotLog.append(spark,
            (base until base + 10L).map(i => (i, name)).toDF("k", "p"),
            path, "k"))
        } catch { case e: Throwable => results.put(name, e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val outcomes = Seq("w1", "w2").map(results.get)
    val versions = outcomes.collect { case v: Integer => v.intValue }
    assert(versions.sorted == Seq(1, 2),
      s"both blind appends must commit (one after a rebase), got $outcomes")
    // all thirty rows serve; the two appended segments are distinct
    val state = SnapshotLog.read(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(state.size == 30 &&
      state(100L) == "w1" && state(200L) == "w2")
    // the loser's segment was written ONCE: v2's manifest adds exactly
    // one segment over v1's, and no unreferenced data dir exists
    val s1 = SnapshotLog.manifest(spark, path, 1).collect()
      .map(_.getAs[String]("seg")).toSet
    val s2 = SnapshotLog.manifest(spark, path, 2).collect()
      .map(_.getAs[String]("seg")).toSet
    assert(s1.subsetOf(s2) && (s2 -- s1).size == 1)
    val dataDirs = new java.io.File(path, "data").listFiles().length
    assert(dataDirs == s2.size,
      s"no orphaned duplicate segment from the rebase ($dataDirs dirs vs ${s2.size} referenced)")
  }

  test("SnapshotLog txn markers: stamped commits record the writer's watermark atomically; re-applies no-op") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val path = tmpDir("snaplog_txn")
    SnapshotLog.create(spark,
      (0L until 10L).map(i => (i, s"a$i")).toDF("k", "p"), path, "k")
    assert(SnapshotLog.lastTxnVersion(path, "sync").isEmpty)
    // a consumer stamps its derived commit with the source version it
    // applied — the marker travels inside the commit
    SnapshotLog.merge(spark,
      Seq((0L, "A0", false)).toDF("k", "p", "del"), path, "k", "del",
      txn = Some(("sync", 7)))
    assert(SnapshotLog.lastTxnVersion(path, "sync").contains(7))
    assert(SnapshotLog.lastTxnVersion(path, "other").isEmpty,
      "watermarks are per-application")
    // an unstamped commit on top does not erase the watermark — the
    // scan walks back to the newest stamped commit
    SnapshotLog.append(spark,
      Seq((100L, "b")).toDF("k", "p"), path, "k")
    assert(SnapshotLog.lastTxnVersion(path, "sync").contains(7))
    // the idempotent-apply discipline: apply feed v iff watermark < v
    def applyOnce(v: Int): Boolean =
      if (SnapshotLog.lastTxnVersion(path, "sync").forall(_ < v)) {
        SnapshotLog.merge(spark,
          Seq((200L + v, s"f$v", false)).toDF("k", "p", "del"),
          path, "k", "del", txn = Some(("sync", v)))
        true
      } else false
    assert(!applyOnce(7), "an already-applied feed must no-op")
    assert(applyOnce(8))
    assert(!applyOnce(8), "a re-delivered feed must no-op (crash-safe)")
    assert(SnapshotLog.lastTxnVersion(path, "sync").contains(8))
    assert(SnapshotLog.read(spark, path)
      .filter(col("k") === 208L).count() == 1)
    assert(SnapshotLog.read(spark, path).count() == 12,
      "the re-delivered feed must not have landed twice")
  }

  test("SnapshotLog cloneTable: zero-copy clone pins its source version; writes diverge; neither gc touches the other") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val src = tmpDir("snaplog_clonesrc")
    val dst = tmpDir("snaplog_clonedst")
    SnapshotLog.create(spark,
      (0L until 10L).map(i => (i, s"a$i")).toDF("k", "p"), src, "k")
    SnapshotLog.append(spark,
      (100L until 110L).map(i => (i, s"b$i")).toDF("k", "p"), src, "k")
    // clone at v1: manifest-sized, zero data copied, source pinned
    assert(SnapshotLog.cloneTable(spark, src, dst) == 0)
    assert(SnapshotLog.pinnedVersions(src).contains(1),
      "clone must pin the source version it references")
    assert(SnapshotLog.read(spark, dst).count() == 20)
    assert(!new java.io.File(dst, "data").exists(),
      "a fresh clone owns no data files of its own")
    // writes diverge: the clone's upsert rewrites into the CLONE's
    // root; the source is untouched
    SnapshotLog.upsert(spark,
      (0L until 5L).map(i => (i, s"C$i")).toDF("k", "p"), dst, "k")
    assert(SnapshotLog.read(spark, dst).filter(col("p") === "C0")
      .count() == 1)
    assert(SnapshotLog.read(spark, src).filter(col("p") === "C0")
      .count() == 0, "clone writes must never reach the source")
    // source churns and gc's aggressively — the pinned version keeps
    // every segment the clone serves
    SnapshotLog.append(spark,
      (200L until 210L).map(i => (i, s"d$i")).toDF("k", "p"), src, "k")
    SnapshotLog.gc(spark, src, retainLast = 1)
    assert(SnapshotLog.read(spark, dst).count() == 20,
      "source gc must not reclaim segments a clone references (pin)")
    // clone-side gc can never delete source files: fold the clone to
    // fully-owned segments, expire its src-referencing history
    SnapshotLog.compact(spark, dst, "k", minRows = Long.MaxValue)
    SnapshotLog.gc(spark, dst, retainLast = 1)
    assert(SnapshotLog.read(spark, src, Some(1)).count() == 20,
      "clone gc must never delete the source's files (root-scoped ownership)")
    assert(SnapshotLog.read(spark, dst).count() == 20)
    // the explicit lifecycle act: unpin releases the source version to
    // ITS next gc
    SnapshotLog.unpin(src, 1)
    SnapshotLog.gc(spark, src, retainLast = 1)
    assert(!SnapshotLog.manifestExists(src, 1))
  }
}
