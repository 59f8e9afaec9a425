package graft.sources

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileAlreadyExistsException, FileContext,
  FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Thrown by a commit that lost the version race: another writer
  * committed the same version number first. The loser's segments are
  * unreachable orphans ([[SnapshotLog.gc]] reclaims them); the table
  * itself is untouched — retrying the logical operation re-reads the
  * new latest version and commits on top of it. */
final class ConcurrentCommitException(msg: String)
  extends RuntimeException(msg)

/** A minimal VERSIONED-SNAPSHOT table format (the Delta/Iceberg idea
  * built from scratch on plain parquet): every commit produces an
  * immutable numbered version whose manifest lists the live SEGMENTS
  * (parquet directories) with per-segment key min/max stats; readers
  * time-travel by version number. The dataset-versioning discipline a
  * training pipeline needs — "train run X read corpus version N" stays
  * reproducible forever, and a nightly upsert can never disturb a
  * concurrent reader pinned to an older version.
  *
  * Reference analog: the reference regenerates named result artifacts
  * per project run (ram-analysis/app/s3 uploads); this is the same
  * artifact contract upgraded with atomic versions and time travel.
  *
  * Commit protocol (rename-last, the Delta log discipline): data
  * segments are written first (attempt-unique names), then the version
  * manifest is written COMPLETE to a hidden temp directory and RENAMED
  * to its numbered place `_log/vNNNNN` — that rename is the commit
  * point. A crash at any earlier step leaves prior versions untouched
  * and nothing committed (temp dirs are unreachable orphans [[gc]]
  * sweeps); once the manifest directory exists under its version
  * number, the version IS committed. The one-line LATEST pointer is
  * advanced after the rename as a seek hint only — [[latestVersion]]
  * rolls FORWARD from it over contiguous committed manifests, so a
  * crash between rename and pointer advance loses nothing.
  *
  * CONCURRENT WRITERS: two sessions that both read latest = N and race
  * to commit N+1 are adjudicated by the manifest rename — the
  * filesystem grants exactly one rename onto `_log/vNNNNN`; the loser
  * gets [[ConcurrentCommitException]] and its temp manifest/segments
  * become gc-able orphans. No interleaving can tear table state,
  * because nothing under a committed version is ever mutated. The
  * rename-if-absent check-and-act is server-atomic on HDFS-like
  * filesystems; on the local filesystem `FileContext` re-checks at
  * rename time (residual window is the filesystem's, and the loser
  * still fails because a directory rename onto a non-empty directory
  * cannot succeed).
  *
  * All filesystem I/O goes through the Hadoop FileSystem API resolved
  * from the table path's own scheme, so a table root may live on any
  * Hadoop filesystem (`file:`, `hdfs:`, object stores). OBJECT-STORE
  * CAVEAT: the commit rename must be atomic-if-absent; on s3a, rename
  * is a non-atomic client-side copy+delete and two racing committers
  * are NOT reliably adjudicated — on such stores this log needs an
  * external commit coordinator (the documented posture of every
  * rename-based table format; HDFS/ABFS/GCS-with-hierarchical-
  * namespace are fine).
  *
  * Scale posture: a manifest is segment-count-sized (it lists
  * directories, never rows), so the driver decodes it directly
  * ([[manifestRows]]) — a manifest read runs no Spark job — and every
  * segment, tombstone and stage read learns its schema through
  * [[ParquetFooter]] (the frame just written, else driver-read footers),
  * so the per-verb metadata floor is file I/O, not job scheduling. Only
  * [[history]] scans manifests with Spark: one job over every
  * surviving version. Upsert prunes by the manifest's key-range stats
  * so only segments whose [min,max] overlaps the incoming keys are
  * rewritten — untouched segments are carried forward BY REFERENCE
  * into the new manifest (copy-on-write at segment granularity,
  * spec-proven); the rewrite itself is one anti join + one union, both
  * key-partitioned.
  *
  * Three private helpers carry the mechanics the verbs share:
  * [[writeSlices]] is the one partitioned write that cuts a tagged
  * frame into segments (sliced [[compact]], [[compactZOrder]],
  * [[purgeDv]]); [[readPruned]] is the one stats/bloom-pruned read
  * ([[readProbe]], [[readRange]], [[readPoint]], [[readPoints]]); and
  * [[scanLive]] is the one segment-tagged scan with tombstones applied
  * ([[readRows]], [[mergeDv]]'s presence scan).
  */
object SnapshotLog {

  private def logDir(path: String) = s"$path/_log"
  private def manifestDir(path: String, v: Int) = f"${logDir(path)}/v$v%05d"
  private def latestFile(path: String) = new Path(logDir(path), "LATEST")

  /** Hadoop configuration of the active session (the table path's
    * scheme resolves its FileSystem through this), falling back to a
    * default Configuration for session-less callers (pin/unpin from a
    * driver-side tool). */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def fsOf(p: Path): FileSystem = p.getFileSystem(hadoopConf)

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      var n = 0
      while ({ n = in.read(buf); n > 0 }) out.write(buf, 0, n)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Replace the one-line file `f` (the LATEST seek hint, a follower
    * cursor) with `text`: a temp file beside it, then an overwrite
    * rename. Correctness never depends on the LATEST hint — see
    * [[latestVersion]]'s roll-forward — so a concurrent hint race or a
    * non-atomic object-store rename costs a longer forward scan, never
    * a wrong answer. */
  private def writeSmall(f: Path, text: String): Unit = {
    val fs = fsOf(f)
    val tmp = new Path(f.getParent,
      s".${f.getName}-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fc = FileContext.getFileContext(fs.makeQualified(f).toUri, hadoopConf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(f),
      Options.Rename.OVERWRITE)
  }

  /** The committed latest version, or None for an empty/absent table.
    * Reads the LATEST seek hint, then rolls FORWARD over contiguous
    * committed manifest directories — the hint may be stale (a writer
    * crashed after its commit rename, or a concurrent writer has not
    * advanced it yet) but can never claim an uncommitted version.
    *
    * A missing/torn hint — or a hint pointing at a version [[gc]] has
    * since expired — degrades to LISTING `_log` for the maximum
    * committed vNNNNN directory and rolling forward from there. The
    * old degradation (scan up from v0) silently returned None once
    * retention GC had deleted the early manifests: the forward scan hit
    * the retention gap, a guarded `if (latestVersion.isEmpty) create`
    * caller would then re-commit a fresh v0 and FORK the surviving
    * history. The listing is version-count-sized (gc keeps it short)
    * and only runs on the degraded path. */
  def latestVersion(path: String): Option[Int] = {
    val f = latestFile(path)
    val fs = fsOf(f)
    val hint =
      if (fs.exists(f))
        scala.util.Try(readSmall(fs, f).trim.toInt).toOption
      else None
    def listMax: Option[Int] = {
      val ld = new Path(logDir(path))
      if (!fs.exists(ld)) None
      // v\d{5,}: %05d grows past five digits at version 100000 (a
      // per-micro-batch CDC table gets there) — the listing must not
      // stop seeing those
      else fs.listStatus(ld).toSeq.map(_.getPath.getName)
        .filter(_.matches("v\\d{5,}"))
        .map(_.stripPrefix("v").toInt)
        .reduceOption(_ max _)
    }
    val start = hint.filter(h =>
      fs.exists(new Path(manifestDir(path, h)))).orElse(listMax)
    start match {
      case None => None
      case Some(s) =>
        var v = s
        while (fs.exists(new Path(manifestDir(path, v + 1)))) v += 1
        Some(v)
    }
  }

  /** Manifest frame of `version`: one row per live segment — `seg`,
    * `n_rows`, `min_key`, `max_key`, plus the optional columns the
    * verbs add (`dvs`/`dv_rows` after [[mergeDv]], `bloom` after
    * [[compact]], the per-column `stats` map after [[compactZOrder]]).
    * A local frame over [[manifestRows]]: collecting, filtering or
    * projecting it runs no Spark job. */
  def manifest(spark: SparkSession, path: String, version: Int): DataFrame =
    localFrame(spark, manifestRows(spark, path, version))

  /** The manifest of version `v` decoded on the driver
    * ([[ParquetFooter.rows]]): schema and rows equal what
    * `spark.read.parquet` of the manifest directory gives, and no Spark
    * job runs. Committed manifests are immutable, so every read simply
    * decodes the file. */
  private[graft] def manifestRows(spark: SparkSession, path: String,
                                  v: Int): (StructType, Seq[Row]) =
    ParquetFooter.rows(spark, new Path(manifestDir(path, v)))

  /** A local frame over decoded manifest rows: actions on it (and on
    * projections and filters of it) run no Spark job. */
  private def localFrame(spark: SparkSession,
                         m: (StructType, Seq[Row])): DataFrame =
    spark.createDataFrame(m._2.asJava, m._1)

  /** Whether version `v` was committed as REWRITE-ONLY (Delta's
    * dataChange=false): a compaction — identical logical rows, new
    * physical layout. Change-feed consumers skip these commits. */
  def isRewriteOnly(path: String, v: Int): Boolean = {
    val m = new Path(manifestDir(path, v), "_rewriteonly")
    fsOf(m).exists(m)
  }

  /** IDEMPOTENT-WRITER WATERMARK (Delta's txnAppId/txnVersion): the
    * latest transaction version application `app` has recorded in any
    * surviving commit, or None. A consumer that stamps each derived
    * commit with the source version it applied ([[merge]]'s `txn`
    * parameter) gets CRASH-SAFE exactly-once effect: a re-delivered
    * feed finds its version already recorded and no-ops, even when
    * the crash hit between the derived commit and the consumer's own
    * cursor advance — the marker travels INSIDE the commit, so there
    * is no window between "applied" and "recorded". Scans newest to
    * oldest and stops at the first stamped commit (consumers stamp
    * monotonically); version-count-sized driver work. Retention
    * caveat (Delta documents the same): [[gc]] expires markers with
    * their manifests, so retention must outlast the longest consumer
    * lag. */
  def lastTxnVersion(path: String, app: String): Option[Int] = {
    val latest = latestVersion(path).getOrElse(return None)
    val fs = fsOf(new Path(path))
    val prefix = s"_txn-$app-"
    (latest to 0 by -1).iterator
      .filter(manifestExists(path, _))
      .map { v =>
        fs.listStatus(new Path(manifestDir(path, v))).toSeq
          .map(_.getPath.getName)
          .filter(_.startsWith(prefix))
          .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toInt)
            .toOption)
          .reduceOption(_ max _)
      }
      .collectFirst { case Some(tv) => tv }
  }

  // ---------------------------------------------------------------
  // COLUMN MAPPING (Delta column-mapping mode "name" / Iceberg field
  // renames): RENAME and DROP become METADATA-ONLY commits. Physical
  // column names in segment parquet never change after first write; a
  // `_colmap` file inside each manifest directory (written to the temp
  // dir before the commit rename, so exactly as atomic as the commit)
  // records the logical view: `m:<logical>=<physical>` per renamed
  // column and `d:<physical>` per dropped one. Readers alias physical
  // to logical and omit dropped physicals; writers translate logical
  // back to physical, so old and new segments always share a physical
  // schema. No file means identity — every pre-existing table reads
  // and writes exactly as before. Time travel composes for free: each
  // version's manifest carries ITS OWN mapping, so a pre-rename read
  // shows the old names, and a restore restores the old schema. The
  // one declared limitation (Delta shares it without field-id
  // allocation): re-adding a column whose name a drop retired — or
  // whose name is some renamed column's physical storage name — is
  // refused with an explicit error rather than silently forking the
  // physical schema.
  // ---------------------------------------------------------------

  /** How a commit acquires its column mapping. */
  private sealed trait ColMapArg
  /** Carry the mapping of the nearest surviving version below the new
    * one — the default for every data verb. */
  private case object ColMapInherit extends ColMapArg
  /** Write exactly this mapping text (None = identity / no file) —
    * rename/drop/restore/clone pass their own. */
  private case class ColMapSet(text: Option[String]) extends ColMapArg

  private def colMapText(path: String, v: Int): Option[String] = {
    val f = new Path(manifestDir(path, v), "_colmap")
    val fs = fsOf(f)
    if (fs.exists(f)) Some(readSmall(fs, f)) else None
  }

  /** Version `v`'s column mapping: (logical -> physical pairs, dropped
    * physical names). Empty for an unmapped (identity) table. */
  def columnMapping(path: String, v: Int): (Seq[(String, String)], Seq[String]) = {
    val (pairs, dropped, _) = colMapFull(path, v)
    (pairs, dropped)
  }

  /** [[columnMapping]] plus the table's FIELD-ID counter (`f:` line):
    * the high-water mark of physical names this table ever allocated
    * for re-added columns — monotone per table, never reused, so a
    * drop/re-add/drop/re-add chain yields distinct physicals. */
  private[graft] def colMapFull(path: String, v: Int)
      : (Seq[(String, String)], Seq[String], Int) =
    colMapText(path, v).map(parseColMap).getOrElse((Nil, Nil, 0))

  private def parseColMap(text: String)
      : (Seq[(String, String)], Seq[String], Int) = {
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    val pairs = lines.filter(_.startsWith("m:")).map { l =>
      val Array(a, b) = l.stripPrefix("m:").split("=", 2)
      (a, b)
    }
    (pairs, lines.filter(_.startsWith("d:")).map(_.stripPrefix("d:")),
      lines.find(_.startsWith("f:")).map(_.stripPrefix("f:").toInt)
        .getOrElse(0))
  }

  private def renderColMap(pairs: Seq[(String, String)],
                           dropped: Seq[String], fid: Int = 0): String =
    (pairs.map { case (l, p) => s"m:$l=$p" } ++
      dropped.map("d:" + _) ++
      (if (fid > 0) Seq(s"f:$fid") else Nil)).mkString("\n")

  /** FIELD-ID allocation for RE-ADDED columns (the Delta/Iceberg
    * field-id move; closes r17's declared column-mapping limitation):
    * an incoming logical column whose name a drop RETIRED — or whose
    * name is some renamed column's physical storage name — no longer
    * refuses the write; it maps to a FRESH physical column
    * `<name>__f<id>` under a per-table monotone field-id counter, so
    * the physical schema never forks: old segments simply lack the new
    * physical and null-fill under a mergeSchema read (exactly the
    * additive-evolution contract), while the retired physical keeps
    * serving time travel. Pure: returns the (possibly extended) pairs
    * and the advanced counter; the caller commits the new mapping iff
    * the counter moved. */
  private def allocReAdds(cols: Seq[String], pairs: Seq[(String, String)],
                          dropped: Seq[String], fid: Int,
                          livePhysicals: => Set[String])
      : (Seq[(String, String)], Int) = {
    val logicals = pairs.map(_._1).toSet
    // TRIGGER set: only a RETIRED name (a renamed column's physical
    // storage name or a dropped column) forces a fresh field-id —
    // identity columns pass through untouched
    val retired = pairs.map(_._2).toSet ++ dropped
    // COLLISION set for the fresh name itself: additionally the
    // identity-mapped columns (never renamed or dropped, so absent from
    // `pairs`) which store under their own names — a fresh
    // `<name>__f<id>` colliding with one would alias TWO logical
    // columns onto one physical and mergeSchema reads would serve the
    // old column's values under the re-added logical (r18 ADVICE).
    // Forced lazily: the common no-re-add append never pays the
    // merged-schema read behind `livePhysicals`.
    lazy val allTaken =
      scala.collection.mutable.Set.empty[String] ++=
        retired ++= livePhysicals ++= cols
    var f = fid
    var ps = pairs
    cols.foreach { c =>
      if (!logicals.contains(c) && retired.contains(c)) {
        var fresh = ""
        do { f += 1; fresh = s"${c}__f$f" } while (allTaken.contains(fresh))
        ps = ps :+ (c -> fresh)
        allTaken += fresh
      }
    }
    (ps, f)
  }

  /** One-stop write-path mapping resolution: version `vPrev`'s mapping
    * with any re-adds in `df` freshly allocated, plus the ColMapArg the
    * commit must carry (inherit when nothing was allocated — the
    * common case stays metadata-identical). */
  private def writeMapping(df: DataFrame, path: String, vPrev: Int)
      : (Seq[(String, String)], Seq[String], ColMapArg) = {
    val (pairs0, dropped, fid0) = colMapFull(path, vPrev)
    // the table's CURRENT physical schema (only forced when a re-add
    // actually fires): logical names map through `pairs0`, identity
    // columns ARE their own physical name; mergeSchema because an
    // evolved or re-added column may live only in newer segments
    lazy val live: Set[String] = {
      val byLogical = pairs0.toMap
      read(df.sparkSession, path, Some(vPrev), mergeSchema = true)
        .schema.fieldNames.map(n => byLogical.getOrElse(n, n)).toSet
    }
    val (pairs, fid) =
      allocReAdds(df.columns.toSeq, pairs0, dropped, fid0, live)
    val arg =
      if (fid == fid0) ColMapInherit
      else ColMapSet(Some(renderColMap(pairs, dropped, fid)))
    (pairs, dropped, arg)
  }

  /** Logical view of a physically-named frame under a mapping: dropped
    * physicals omitted, renamed physicals aliased, everything else —
    * including columns added AFTER the rename, which are identity by
    * construction — passes through. Identity mapping is a no-op (the
    * common case pays nothing). */
  private def applyColMap(df: DataFrame,
                          pairs: Seq[(String, String)],
                          dropped: Seq[String]): DataFrame =
    if (pairs.isEmpty && dropped.isEmpty) df
    else {
      val byPhys = pairs.map(_.swap).toMap
      val cols = df.columns.toSeq.filterNot(dropped.contains)
        .map(c => byPhys.get(c).map(l => col(c).as(l)).getOrElse(col(c)))
      df.select(cols: _*)
    }

  /** Physical twin of a caller's logically-named frame — what the data
    * verbs write, so every segment of a table shares one physical
    * schema no matter how many renames its history carries. */
  private def toPhysical(df: DataFrame,
                         pairs: Seq[(String, String)],
                         dropped: Seq[String]): DataFrame =
    if (pairs.isEmpty && dropped.isEmpty) df
    else {
      val byLogical = pairs.toMap
      val physInUse = pairs.map(_._2).toSet
      val cols = df.columns.toSeq.map { c =>
        byLogical.get(c) match {
          case Some(p) => col(c).as(p)
          case None =>
            // backstop for write paths WITHOUT field-id allocation
            // (staged writes): the committed verbs resolve re-adds
            // through [[writeMapping]] before reaching here
            require(!dropped.contains(c),
              s"column '$c' was dropped from this table; this write " +
                "path does not allocate field-id re-adds (use append/" +
                "upsert/merge, which do)")
            require(!physInUse.contains(c),
              s"column name '$c' is the physical storage name of a " +
                "renamed column; this write path does not allocate " +
                "field-id re-adds (use append/upsert/merge, which do)")
            col(c)
        }
      }
      df.select(cols: _*)
    }

  /** The physical storage name behind a logical column name. */
  private def physicalName(pairs: Seq[(String, String)],
                           dropped: Seq[String], name: String): String = {
    require(!dropped.contains(name) || pairs.exists(_._1 == name),
      s"column '$name' was dropped from this table")
    pairs.toMap.getOrElse(name, name)
  }

  /** Mapping of the nearest surviving version at or below `v` — the
    * inherit source for a commit building on `v`. Commits always build
    * on the (surviving) latest, so the walk is one step in practice. */
  private def inheritColMap(path: String, v: Int): Option[String] =
    (v to 0 by -1).iterator
      .filter(manifestExists(path, _))
      .map(colMapText(path, _))
      .nextOption().flatten

  /** METADATA-ONLY column RENAME — no segment is read or rewritten; the
    * commit re-lists version latest's manifest rows verbatim with an
    * updated `_colmap`. Marked rewrite-only (identical logical rows up
    * to naming), so change-feed followers skip it. */
  def renameColumn(spark: SparkSession, path: String,
                   oldName: String, newName: String): Int = {
    require(oldName != newName, s"rename of '$oldName' onto itself")
    val v0 = latestVersion(path).getOrElse(
      sys.error(s"rename on non-existent table $path"))
    val (pairs, dropped, fid) = colMapFull(path, v0)
    // mergeSchema: a re-added (field-id) or evolved column lives only
    // in newer segments — a single-footer schema would miss it
    val logical = read(spark, path, Some(v0), mergeSchema = true)
      .schema.fieldNames.toSeq
    require(logical.contains(oldName),
      s"cannot rename absent column '$oldName' (have ${logical.mkString(", ")})")
    require(!logical.contains(newName),
      s"cannot rename '$oldName' to existing column '$newName'")
    require(!dropped.contains(newName) && !pairs.exists(_._2 == newName),
      s"'$newName' is a retired physical column name on this table")
    val phys = pairs.toMap.getOrElse(oldName, oldName)
    val next = pairs.filterNot(_._1 == oldName) :+ (newName -> phys)
    commit(manifest(spark, path, v0), path, v0 + 1, rewriteOnly = true,
      colMap = ColMapSet(Some(renderColMap(next, dropped, fid))))
  }

  /** METADATA-ONLY column DROP — the physical data stays in place (time
    * travel to pre-drop versions still reads it; the bytes are
    * reclaimed only when rewrites + [[gc]] retire the old segments),
    * but every read at or after this version omits the column and
    * every write that re-introduces its name is refused. */
  def dropColumn(spark: SparkSession, path: String, name: String): Int = {
    val v0 = latestVersion(path).getOrElse(
      sys.error(s"drop on non-existent table $path"))
    val (pairs, dropped, fid) = colMapFull(path, v0)
    // mergeSchema: a re-added (field-id) or evolved column lives only
    // in newer segments — a single-footer schema would miss it
    val logical = read(spark, path, Some(v0), mergeSchema = true)
      .schema.fieldNames.toSeq
    require(logical.contains(name),
      s"cannot drop absent column '$name' (have ${logical.mkString(", ")})")
    require(logical.size > 1, s"cannot drop the last column '$name'")
    val phys = pairs.toMap.getOrElse(name, name)
    val next = pairs.filterNot(_._1 == name)
    commit(manifest(spark, path, v0), path, v0 + 1, rewriteOnly = true,
      colMap = ColMapSet(Some(renderColMap(next, dropped :+ phys, fid))))
  }

  /** Snapshot read at `version` (default: latest). The union of the
    * manifest's segment directories — immutable forever, because a
    * later commit only ever ADDS segment directories and manifests.
    *
    * `mergeSchema = true` reconciles ADDITIVE schema evolution across
    * segments (a column added by a later commit reads as null from
    * pre-evolution segments — the Delta/Iceberg additive contract) at
    * the cost of reading every segment's footer; leave it off for
    * schema-stable tables. */
  def read(spark: SparkSession, path: String,
           version: Option[Int] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val v = version.orElse(latestVersion(path))
      .getOrElse(sys.error(s"no committed version at $path"))
    val rows = manifestRows(spark, path, v)._2
    // readRows applies any deletion vectors ([[mergeDv]]); a DV-free
    // manifest goes through the plain multi-directory scan unchanged
    val phys = readRows(spark, rows, mergeSchema)
      .getOrElse(emptyFrame(spark, path, v, rows))
    // VERSION v's OWN column mapping: a pre-rename time travel shows
    // the old names; identity tables pay nothing
    val (pairs, dropped) = columnMapping(path, v)
    applyColMap(phys, pairs, dropped)
  }

  /** Write `df` as one new segment directory and return its manifest
    * row (seg, n_rows, min_key, max_key). The stats aggregate runs on
    * the written files so the manifest can never disagree with the
    * bytes on disk.
    *
    * The directory name is ATTEMPT-unique (uuid suffix): a crash after
    * the segment lands but before [[commit]] leaves an unreachable
    * orphan that can never collide with — and therefore never block —
    * a retry of the same version (the r11 ADVICE orphan hazard; with
    * the old deterministic `c{v}-{idx}` name, errorifexists made the
    * retry fail forever). Visibility still flips only at commit;
    * orphans are reclaimed by [[gc]]'s unreferenced-segment sweep. */
  private def writeSegment(spark: SparkSession, df: DataFrame, path: String,
                           v: Int, idx: Int, keyCol: String,
                           bloomExpected: Option[Long] = None): DataFrame = {
    val dir = f"$path/data/c$v%05d-$idx-" +
      java.util.UUID.randomUUID().toString.take(8)
    df.write.mode("errorifexists").parquet(dir)
    val aggs = Seq(count(lit(1)).as("n_rows"),
      min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key")) ++
      bloomExpected.map(n => SparkBridge
        .bloomFilterAgg(xxhash64(col(keyCol).cast("long")), n)
        .as("_bloom"))
    val out = Seq(col("n_rows"), col("min_key"), col("max_key")) ++
      bloomExpected.map(_ => col("_bloom"))
    ParquetFooter.read(spark, Seq(dir), known = Some(df.schema))
      .agg(aggs.head, aggs.tail: _*)
      .select(lit(dir).as("seg") +: out: _*)
  }

  /** Commit `rows` as the manifest of version `v`: write the manifest
    * parquet COMPLETE to an attempt-unique temp dir, rename it to
    * `_log/vNNNNN` (THE commit point — atomic, first-writer-wins; a
    * loser throws [[ConcurrentCommitException]]), then advance the
    * LATEST seek hint (best-effort overwrite rename — [[latestVersion]]
    * tolerates staleness). */
  private def commit(rows: DataFrame, path: String, v: Int,
                     rewriteOnly: Boolean = false,
                     txn: Option[(String, Int)] = None,
                     colMap: ColMapArg = ColMapInherit): Int = {
    // A commit must be the new MAXIMUM version. Without this guard a
    // stale caller computing baseV+1 after [[gc]] expired that number
    // (pins leave non-contiguous survivors) would rename onto a
    // no-longer-existing manifest dir successfully and silently
    // RE-CREATE an old version number with new content — forking time
    // travel and [[history]]. Racing writers of the same fresh number
    // both pass (v == latest+1); the rename still adjudicates them.
    latestVersion(path).foreach { l =>
      if (v <= l) throw new ConcurrentCommitException(
        s"commit of version $v at $path is behind committed latest $l; " +
          "re-read latestVersion and retry on top of it")
    }
    val target = new Path(manifestDir(path, v))
    val fs = fsOf(target)
    val tmp = new Path(logDir(path),
      f".v$v%05d-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    // repartition(1), not coalesce(1): coalesce would collapse the
    // upstream segment-stats scan into the same single task
    rows.repartition(1).write.mode("errorifexists").parquet(tmp.toString)
    // Delta's dataChange=false: a REWRITE-ONLY commit (compaction —
    // same logical rows, new physical layout) is marked inside the
    // manifest directory BEFORE the commit rename, so the marker is
    // exactly as atomic as the commit itself; the underscore name is
    // invisible to the manifest's parquet listing. [[followDiff]]
    // skips such commits instead of paying a full-table diff to learn
    // nothing changed.
    if (rewriteOnly)
      fs.create(new Path(tmp, "_rewriteonly"), true).close()
    // Delta's txnAppId/txnVersion: an idempotent writer stamps the
    // commit with its (application, version) pair — same atomicity
    // argument as the rewrite-only marker
    txn.foreach { case (app, tv) =>
      require(app.nonEmpty && app.forall(c => c.isLetterOrDigit || c == '_'),
        s"txn app ids are [A-Za-z0-9_]+, got '$app'")
      fs.create(new Path(tmp, s"_txn-$app-$tv"), true).close()
    }
    // the column mapping travels INSIDE the commit (same atomicity as
    // the rename): data verbs inherit the mapping they built on,
    // rename/drop/restore/clone set their own explicitly
    val colMapOut = colMap match {
      case ColMapSet(t) => t
      case ColMapInherit => inheritColMap(path, v - 1)
    }
    colMapOut.foreach { t =>
      val out = fs.create(new Path(tmp, "_colmap"), true)
      try out.write(t.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    val fc = FileContext.getFileContext(fs.makeQualified(target).toUri,
      hadoopConf)
    try fc.rename(fs.makeQualified(tmp), fs.makeQualified(target))
    catch {
      case e: java.io.IOException =>
        val lost = e.isInstanceOf[FileAlreadyExistsException] ||
          fs.exists(target)
        fs.delete(tmp, true)
        if (lost) throw new ConcurrentCommitException(
          s"version $v at $path was committed concurrently by another " +
            s"writer; re-read latestVersion and retry on top of it")
        else throw e
    }
    writeSmall(latestFile(path), v.toString)
    v
  }

  /** Create the table at version 0. */
  def create(spark: SparkSession, df: DataFrame, path: String,
             keyCol: String): Int = {
    require(latestVersion(path).isEmpty, s"table already exists at $path")
    commit(writeSegment(spark, df, path, 0, 0, keyCol), path, 0)
  }

  /** Append-only commit: one new segment; every prior segment carried
    * forward by reference.
    *
    * A blind append has NO read set — it is compatible with ANY
    * interleaved commit — so a lost version race is always rebasable:
    * the loser re-reads latest and re-commits its already-written
    * segment row onto the new manifest (Delta's blind-append
    * semantics; two concurrent ingest jobs both land, in some serial
    * order). Only the manifest commit retries — the data segment is
    * written once. Bounded retries; a pathological storm still
    * surfaces the final [[ConcurrentCommitException]]. */
  def append(spark: SparkSession, df: DataFrame, path: String,
             keyCol: String, maxRetries: Int = 5): Int = {
    def latestOr = latestVersion(path).getOrElse(
      sys.error(s"append to non-existent table $path"))
    // write the segment ONCE, against the first observed version
    var v = latestOr + 1
    // callers speak the LOGICAL schema; segments store the physical one
    // (re-added retired names allocate fresh field-id physicals here)
    val (cmPairs, cmDropped, cmArg) = writeMapping(df, path, v - 1)
    val seg = writeSegment(spark, toPhysical(df, cmPairs, cmDropped), path,
      v, 0, physicalName(cmPairs, cmDropped, keyCol))
      .collect().head
    // the frozen one-row manifest entry (get(i), not getAs[Long]:
    // an empty append's min/max stats are NULL and must stay NULL)
    val segRow = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        seg.get(0), seg.get(1), seg.get(2), seg.get(3))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("seg",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("min_key",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("max_key",
          org.apache.spark.sql.types.LongType, nullable = true))))
    // ELIDE an empty segment (like [[merge]] already does): its null
    // stats would otherwise ride in the manifest forever and read as
    // range [0,0] wherever stats are unboxed; the version still
    // commits (an append always advances the table), just with no new
    // segment row, and the orphan dir is [[gc]]'s to sweep
    val emptySeg = seg.getAs[Long]("n_rows") == 0L
    var attempts = 0
    while (true) {
      try {
        val prev = manifest(spark, path, v - 1)
        return commit(
          if (emptySeg) prev
          else prev.unionByName(segRow, allowMissingColumns = true),
          path, v, colMap = cmArg)
      } catch {
        case e: ConcurrentCommitException =>
          attempts += 1
          // a RE-ADDING append carries a new mapping (cmArg is Set):
          // rebasing it blindly could clobber an interleaved schema
          // commit's mapping, so the conflict surfaces to the caller
          // instead (schema changes are rare; data appends keep the
          // blind-rebase fast path)
          if (attempts > maxRetries || cmArg != ColMapInherit) throw e
          v = latestOr + 1
          rebaseMappingGuard(path, v - 1, cmPairs, cmDropped, e)
      }
    }
    -1 // unreachable
  }

  /** Inherit-side race guard for [[append]]'s blind rebase (r18
    * ADVICE): the loser's segment was written under the mapping read
    * BEFORE the retry loop; a rename/drop committed between attempts
    * makes that physical schema stale — a blind rebase would land a
    * segment for a logical column that no longer exists, bypassing the
    * toPhysical backstop a fresh mapping read would have triggered.
    * Schema changes racing data appends are rare: re-read the mapping
    * at the refreshed base and surface the conflict instead of
    * rebasing onto it. */
  private[graft] def rebaseMappingGuard(path: String, vBase: Int,
                                        pairs: Seq[(String, String)],
                                        dropped: Seq[String],
                                        e: Throwable): Unit = {
    val (pNow, dNow, _) = colMapFull(path, vBase)
    if (pNow != pairs || dNow != dropped) throw e
  }

  /** [[append]] with the target version fixed by the caller — the
    * two-writer race surface made testable: both writers compute the
    * same `v`, exactly one commit rename wins, the loser throws
    * [[ConcurrentCommitException]] (spec-pinned). */
  private[graft] def appendAt(spark: SparkSession, df: DataFrame,
                              path: String, keyCol: String, v: Int): Int = {
    val prev = manifest(spark, path, v - 1)
    val (cmPairs, cmDropped, cmArg) = writeMapping(df, path, v - 1)
    // allowMissingColumns: an append after [[compactZOrder]] carries a
    // stats-less row into a manifest with a per-column stats map — the
    // new segment's map is null (readers prune conservatively)
    commit(prev.unionByName(
      writeSegment(spark, toPhysical(df, cmPairs, cmDropped), path, v, 0,
        physicalName(cmPairs, cmDropped, keyCol)),
      allowMissingColumns = true), path, v, colMap = cmArg)
  }

  /** Keyed upsert: rows with matching keys replace their old versions,
    * the rest insert. [[merge]] with no deletes. */
  def upsert(spark: SparkSession, df: DataFrame, path: String,
             keyCol: String): Int =
    merge(spark, df.withColumn("_snap_del", lit(false)), path, keyCol,
      "_snap_del")

  /** Full MERGE — the lakehouse verb: upserts AND deletes in one
    * atomic commit. `df` carries `keyCol` plus a boolean `deleteCol`;
    * delete rows remove their key from the table, the rest
    * replace-or-insert. Segment-granularity copy-on-write: only
    * segments whose [min_key, max_key] range OVERLAPS the incoming key
    * range (deletes included — a delete must reach the segment holding
    * its key) are rewritten through one anti join; every other segment
    * rides into the new manifest BY REFERENCE. A merge that deletes a
    * whole key range commits a manifest with no replacement segment
    * (the empty segment is elided, never listed). */
  def merge(spark: SparkSession, df: DataFrame, path: String,
            keyCol: String, deleteCol: String,
            txn: Option[(String, Int)] = None): Int = {
    val v = latestVersion(path).getOrElse(
      sys.error(s"merge into non-existent table $path")) + 1
    mergeAt(spark, df, path, keyCol, deleteCol, v, keyRange(df, keyCol), txn)
  }

  /** The incoming [min, max] key range of a merge batch — one job, run
    * once per logical merge (rebase attempts reuse it). */
  private def keyRange(df: DataFrame, keyCol: String): (Long, Long) = {
    val r = df.agg(min(col(keyCol)), max(col(keyCol))).collect().head
    (r.get(0).asInstanceOf[Long], r.get(1).asInstanceOf[Long])
  }

  /** What [[mergeAt]] and [[mergeDvAt]] both start from at target
    * version `v`: the write-path column mapping, the physical key, the
    * base manifest (`shape`d by the caller) and its non-empty rows,
    * split by whether their key range overlaps the batch's `range`. */
  private case class MergeBase(pairs: Seq[(String, String)],
                               dropped: Seq[String], colMap: ColMapArg,
                               keyP: String, m: DataFrame,
                               rows: Seq[org.apache.spark.sql.Row],
                               affected: Seq[org.apache.spark.sql.Row],
                               untouched: Seq[org.apache.spark.sql.Row])

  private def mergeBase(df: DataFrame, path: String, keyCol: String, v: Int,
                        range: (Long, Long),
                        shape: DataFrame => DataFrame = identity): MergeBase = {
    val (lo, hi) = range
    // callers speak the LOGICAL schema; segments store the physical one
    // (re-added retired names allocate fresh field-id physicals)
    val (pairs, dropped, arg) = writeMapping(df, path, v - 1)
    // the manifest is segment-count-sized: collecting it is the point.
    // Empty segments (a legacy empty append) are dropped here — they
    // hold no rows, so eliding them from the new manifest loses nothing
    val m = shape(manifest(df.sparkSession, path, v - 1))
    val rows = m.collect().toSeq.filter(_.getAs[Long]("n_rows") > 0)
    val (affected, untouched) = rows.partition { r =>
      r.getAs[Long]("max_key") >= lo && r.getAs[Long]("min_key") <= hi
    }
    MergeBase(pairs, dropped, arg, physicalName(pairs, dropped, keyCol), m,
      rows, affected, untouched)
  }

  /** [[merge]] with the target version and the batch's key range fixed
    * by the caller — the race surface [[appendAt]] exposes, for
    * [[mergeOrRebase]]'s retry loop. */
  private[graft] def mergeAt(spark: SparkSession, df: DataFrame,
                             path: String, keyCol: String,
                             deleteCol: String, v: Int, range: (Long, Long),
                             txn: Option[(String, Int)] = None): Int = {
    val MergeBase(cmPairs, cmDropped, cmArg, keyP, m, _, affected,
      untouched) = mergeBase(df, path, keyCol, v, range)
    val inserts = toPhysical(df.filter(!col(deleteCol)).drop(deleteCol),
      cmPairs, cmDropped)
    // mergeSchema + allowMissingColumns: a merge whose incoming rows
    // carry NEW columns (additive schema evolution) rewrites its
    // touched segments under the widened schema — survivors read nulls
    // for the new columns; both are no-ops on schema-stable tables
    // readRows applies any deletion vectors on the affected segments
    // (a COW rewrite of a tombstoned segment folds the tombstones into
    // data; the new manifest row carries no dvs and the tombstone dir
    // becomes [[gc]]-reclaimable once no version references it)
    val survivors =
      if (affected.isEmpty) inserts.limit(0)
      else readRows(spark, affected.toSeq, mergeSchema = true).get
        .join(df.select(col(keyCol).as(keyP)), Seq(keyP), "left_anti")
    val newSeg = writeSegment(spark,
      survivors.unionByName(inserts, allowMissingColumns = true), path,
      v, 0, keyP)
      .filter(col("n_rows") > 0)
    // segments carried BY REFERENCE keep their manifest row VERBATIM —
    // whatever stats columns the manifest carries (the per-column
    // `stats` map a [[compactZOrder]] leaves) ride along untouched,
    // because the segments' physical clustering is untouched: carrying
    // the stats costs nothing and keeps [[readBox]]'s secondary-axis
    // pruning alive between OPTIMIZE runs. Only the rewritten segment
    // (whose clustering the rewrite destroyed anyway) has no secondary
    // stats — readers treat a missing entry as "scan it". No per-shape
    // fork: this is column-set-agnostic by construction.
    val untouchedSegs = untouched.map(_.getAs[String]("seg")).toSeq
    val carried =
      if (untouchedSegs.isEmpty) m.limit(0)
      else m.filter(col("seg").isin(untouchedSegs: _*))
    commit(carried.unionByName(newSeg, allowMissingColumns = true),
      path, v, txn = txn, colMap = cmArg)
  }

  /** Key ranges version `w`'s commit WROTE or REMOVED: the min/max
    * stats of the symmetric difference between its manifest and its
    * parent's segment lists — the same copy-on-write invariant
    * [[diff]] exploits. Segment-count-sized driver work. */
  private def touchedRanges(spark: SparkSession, path: String,
                            w: Int): Seq[(Long, Long)] = {
    val prev = manifestRows(spark, path, w - 1)._2
    val cur = manifestRows(spark, path, w)._2
    // identity is (segment, deletion vectors) — a [[mergeDv]] commit
    // changes a segment's dvs without changing its path, and the keys
    // it suppressed count as touched (conservatively, via the
    // segment's whole range)
    def ident(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("seg"), dvListOf(r))
    val prevSegs = prev.map(ident).toSet
    val curSegs = cur.map(ident).toSet
    (prev.filterNot(r => curSegs(ident(r))) ++
      cur.filterNot(r => prevSegs(ident(r))))
      // an empty segment's min/max stats are NULL — getAs[Long] would
      // unbox them to 0 and fabricate a range [0,0] that spuriously
      // refuses rebases covering key 0; zero rows touch no range
      .filter(r => r.getAs[Long]("n_rows") > 0 &&
        !r.isNullAt(r.fieldIndex("min_key")))
      .map(r => (r.getAs[Long]("min_key"), r.getAs[Long]("max_key"))).toSeq
  }

  /** [[merge]] with OPTIMISTIC-CONCURRENCY rebase (the Delta/Iceberg
    * logical conflict check): a writer that loses the commit race
    * inspects every commit that beat it — when ALL of them touched key
    * ranges DISJOINT from this merge's [min, max] key range, the merge
    * is rebased onto the new latest and retried automatically (two
    * concurrent ingest jobs on different key ranges both commit, in
    * some serial order); a single overlapping commit refuses the
    * rebase with [[ConcurrentCommitException]] — overlapping writes
    * need the caller's logic re-run against the interleaved state, not
    * a blind replay. Overlap is judged range-vs-range from manifest
    * stats (conservative: a false overlap costs a manual retry, never
    * a wrong rebase); an interleaved version whose manifest has
    * already been [[gc]]'d is unverifiable and also refuses. The
    * rebase rewrites the merge's data segments (the losing attempt's
    * files orphan for gc) — commit adjudication stays physical and
    * first-writer-wins underneath, exactly as before. */
  def mergeOrRebase(spark: SparkSession, df: DataFrame, path: String,
                    keyCol: String, deleteCol: String,
                    maxRebases: Int = 5): Int =
    mergeOrRebaseFrom(spark, df, path, keyCol, deleteCol,
      latestVersion(path).getOrElse(
        sys.error(s"merge into non-existent table $path")), maxRebases)

  /** [[mergeDv]] behind the same optimistic-concurrency rebase loop as
    * [[mergeOrRebase]]: a MoR writer that loses the commit race rebases
    * automatically when every interleaved commit touched a DISJOINT key
    * range (judged from manifest stats, deletion-vector changes
    * included — [[touchedRanges]] keys on (segment, dvs)), and is
    * refused on overlap. The losing attempt's tombstone dir and delta
    * segment orphan for [[gc]]. */
  def mergeDvOrRebase(spark: SparkSession, df: DataFrame, path: String,
                      keyCol: String, deleteCol: String,
                      maxRebases: Int = 5): Int =
    rebaseLoop(spark, df, path, keyCol,
      latestVersion(path).getOrElse(
        sys.error(s"merge into non-existent table $path")), maxRebases,
      mergeDvAt(spark, df, path, keyCol, deleteCol, _, _))

  /** [[mergeOrRebase]] with the base version fixed by the caller (the
    * version this writer READ) — the testable race surface. */
  private[graft] def mergeOrRebaseFrom(spark: SparkSession, df: DataFrame,
                                       path: String, keyCol: String,
                                       deleteCol: String, baseV: Int,
                                       maxRebases: Int = 5): Int =
    rebaseLoop(spark, df, path, keyCol, baseV, maxRebases,
      mergeAt(spark, df, path, keyCol, deleteCol, _, _))

  /** The shared optimistic-concurrency retry: commit via `attempt` at
    * base+1 with this write set's [lo, hi], and on a lost race rebase
    * iff every interleaved commit's touched ranges are disjoint from
    * it. */
  private def rebaseLoop(spark: SparkSession, df: DataFrame, path: String,
                         keyCol: String, baseV: Int, maxRebases: Int,
                         attempt: (Int, (Long, Long)) => Int): Int = {
    val (lo, hi) = keyRange(df, keyCol)
    var base = baseV
    var rebases = 0
    var committed = -1
    while (committed < 0) {
      try committed = attempt(base + 1, (lo, hi))
      catch {
        case e: ConcurrentCommitException =>
          val now = latestVersion(path).getOrElse(throw e)
          val conflict = (base + 1 to now).exists { w =>
            !manifestExists(path, w) || !manifestExists(path, w - 1) ||
              touchedRanges(spark, path, w).exists { case (mn, mx) =>
                mx >= lo && mn <= hi }
          }
          if (conflict) throw new ConcurrentCommitException(
            s"merge of keys [$lo, $hi] at $path lost the race to a " +
              "commit touching an OVERLAPPING key range; rebase refused " +
              "- re-run the logical operation against the new state")
          rebases += 1
          if (rebases > maxRebases) throw e
          base = now
      }
    }
    committed
  }

  /** STREAMING lakehouse ingestion: a CDC changelog stream
    * materialized into the table, one atomic version per non-empty
    * micro-batch. Each batch first reduces to its LAST op per key in
    * `orderCols` order (max_by — the cdc_merge fold), then commits as
    * one [[merge]]: op == 'delete' removes the key, anything else
    * replaces-or-inserts its payload. A first batch creates the table.
    *
    * Replay semantics: re-applying an already-applied batch yields a
    * byte-identical table STATE (merge is content-idempotent) at the
    * cost of one extra version — history records the replay instead of
    * corrupting the data, which is the audit behavior a changelog sink
    * wants. */
  def streamCdc(changelog: DataFrame, path: String, keyCol: String,
                opCol: String, orderCols: Seq[String])
      : org.apache.spark.sql.streaming.StreamingQuery =
    changelog.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val payload = batch.columns.filter(c => c != keyCol && c != opCol)
        val last = batch.groupBy(col(keyCol))
          .agg(max_by(struct((opCol +: payload.toSeq).map(col): _*),
            struct(orderCols.map(col): _*)).as("_last"))
          .select(col(keyCol) +: (opCol +: payload.toSeq)
            .map(c => col(s"_last.$c").as(c)): _*)
          .withColumn("_snap_del", col(opCol) === "delete")
          .drop(opCol)
        if (!last.isEmpty) {
          if (latestVersion(path).isEmpty)
            create(spark, last.filter(!col("_snap_del"))
              .drop("_snap_del"), path, keyCol)
          else merge(spark, last, path, keyCol, "_snap_del")
        }
        ()
      }
      .start()

  /** OPTIMIZE-style segment compaction — the maintenance commit an
    * upsert-heavy history needs (every merge writes one replacement
    * segment; a nightly CDC stream accumulates hundreds of small
    * segments, and every read then unions hundreds of directories):
    * all current segments below `minRows` fold into ONE new segment;
    * larger segments ride into the new manifest by reference. The
    * compacted state is a NEW numbered version — no existing segment
    * or manifest file is touched, so every prior version's time-travel
    * read is byte-identical before and after (spec-proven); a reader
    * pinned mid-compaction never notices. No-op (no commit, current
    * version returned) when fewer than two segments qualify —
    * compaction is idempotent. Returns the committed version.
    *
    * `slices > 1` is CLUSTERED compaction (the lakehouses' OPTIMIZE
    * with a sort column): the folded rows are cut into `slices`
    * key-DISJOINT segments of equal width over the folded rows'
    * global [min, max] — boundaries are deterministic from manifest
    * stats (no sampling pass, so a replayed compaction commits
    * bit-identical manifests). Churn segments written key-interleaved
    * (a CDC feed) each span the whole key space and defeat
    * [[readRange]]'s stats pruning; clustered compaction restores it
    * to ~1/slices of the data per range probe. Equal-width binning
    * assumes a roughly uniform key space; heavily skewed key spaces
    * get uneven slice sizes (still correct — stats prune on whatever
    * the ranges are). Empty slices are dropped from the manifest.
    *
    * Sliced compaction is ONE partitioned write (slice id as the
    * partition column — the [[compactZOrder]] shape): the folded rows
    * are read once, shuffled once on the slice id, the slice
    * directories renamed into the segment namespace, and per-slice
    * stats come from ONE aggregation grouped by slice — never a
    * re-scan or a read job per slice. At production scale an OPTIMIZE
    * must cost the churn one pass, not `slices` re-scans of it. */
  def compact(spark: SparkSession, path: String, keyCol: String,
              minRows: Long = Long.MaxValue, slices: Int = 1): Int = {
    require(slices >= 1, s"slices must be >= 1, got $slices")
    val v0 = latestVersion(path).getOrElse(
      sys.error(s"compact of non-existent table $path"))
    // segment rewrites work in PHYSICAL names (readRows output)
    val (cmPairs0, cmDropped0) = columnMapping(path, v0)
    val keyP = physicalName(cmPairs0, cmDropped0, keyCol)
    val (mSchema, segs) = manifestRows(spark, path, v0)
    val (small, big) = segs.partition(_.getAs[Long]("n_rows") < minRows)
    // a lone segment still folds when it carries deletion vectors —
    // compaction is the verb that PURGES tombstones back into data
    if (small.length <= 1 && !small.exists(dvListOf(_).nonEmpty))
      return v0
    val v = v0 + 1
    // readRows applies any deletion vectors: the fold purges them —
    // the folded segment lists no dvs and the tombstone dirs orphan.
    // mergeSchema: the fold may straddle an additive evolution or a
    // field-id re-add — without it the rewrite would silently DROP
    // every column living only in newer segments (r18 deep-fuzz find)
    val merged = readRows(spark, small.toSeq, mergeSchema = true).get
    // point-lookup bloom sizing: the fold's live rows
    val expectedKeys = bloomItems(small.map(liveRowsOf).sum)
    // key stats are boxed: a segment of null keys has null min/max
    val newSeg: Seq[(String, Long, java.lang.Long, java.lang.Long, String)] =
      if (slices == 1)
        writeSegment(spark, merged, path, v, 0, keyP,
          bloomExpected = Some(expectedKeys)).collect().toSeq
          .filter(_.getAs[Long]("n_rows") > 0)
          .map(r => (r.getAs[String]("seg"), r.getAs[Long]("n_rows"),
            r.getAs[java.lang.Long]("min_key"),
            r.getAs[java.lang.Long]("max_key"),
            Option(r.getAs[Array[Byte]]("_bloom"))
              .map(writeBloomSidecar(path, v, 0, _)).orNull))
      else {
        val lo = small.map(_.getAs[Long]("min_key")).min
        val hi = small.map(_.getAs[Long]("max_key")).max
        val width = (hi - lo) / slices + 1
        // same slice membership as the old per-slice filter loop —
        // slice(key) = (key - lo) div width over key in [lo, hi] — so
        // the committed manifests are bit-identical to the loop's.
        // Per-slice bloom items: 2x the uniform share absorbs skew
        // without forfeiting the size cap (a fixed constant because the
        // bloom aggregate is sized once per aggregation, not per group)
        writeSlices(merged.withColumn("_snap_slice", expr(
            s"CAST((CAST($keyP AS BIGINT) - ${lo}L) div ${width}L AS INT)")),
          path, v, "c", keyP, 2L * expectedKeys / slices)
          .map(s => (s.seg, s.n, s.mn, s.mx, s.bloom))
      }
    // by-reference segments keep their manifest rows VERBATIM — their
    // per-column stats map AND their deletion-vector list both stay
    // live (dropping dvs here would RESURRECT tombstoned rows)
    val carried = localFrame(spark, (mSchema, big))
    import spark.implicits._
    commit(carried.unionByName(
      newSeg.toDF("seg", "n_rows", "min_key", "max_key", "bloom"),
      allowMissingColumns = true), path, v, rewriteOnly = true)
  }

  /** OPTIMIZE ZORDER — MULTI-dimensional clustered compaction (the
    * Delta `OPTIMIZE ... ZORDER BY (x, y)` / Iceberg sort-order
    * rewrite): every current segment folds into `slices` new segments
    * clustered along the Morton curve of `(xCol, yCol)`, and the new
    * manifest carries per-segment min/max stats for BOTH columns
    * (`min_key`/`max_key` on `xCol` — the table's key stats contract —
    * plus a PER-COLUMN `stats` map entry for `yCol`, and one for every
    * extra column in `statsCols`: the Iceberg-style general form, so a
    * third probe column is one more map entry, never a manifest-shape
    * fork). [[compact]]'s 1-D
    * clustering keeps ONE probe family alive; real tables serve two
    * (orders by customer AND by date). Z-clustering makes each segment
    * a compact 2-D tile, so per-column min/max are tight on both axes
    * and [[readBox]] prunes either probe shape to ~sqrt of the data
    * instead of one shape to 1/slices and the other to everything.
    *
    * Mechanics, one data pass: both columns are affine-binned into 16
    * bits (offset = data min, width = range/2^16+1 — deterministic
    * from two aggregates, no sampling, so a replayed rewrite commits
    * bit-identical manifests), interleaved
    * ([[SpatialLayout.zValue16]]), rows cut into `slices` equal-width
    * z intervals over the data's [zMin, zMax], and written with ONE
    * partitioned write (slice id is the partition column — no
    * per-slice re-scan of the source); slice directories are then
    * renamed into the segment namespace and stats-scanned. Like
    * [[compact]], the rewrite commits a NEW version — every prior
    * version's time travel is byte-identical after it.
    *
    * Stats lifecycle: [[merge]] CARRIES the per-column stats map on
    * every segment it rides by reference (their physical clustering is
    * untouched, so the stats stay tight for free) and leaves it null
    * only on its own rewritten segment; [[compact]] rebuilds the
    * manifest stats-less — its fold destroys the z-clustering anyway.
    * Re-run
    * compactZOrder to restore both, the production OPTIMIZE cadence.
    * Readers treat missing/null stats as "scan it" — always correct,
    * never tight. */
  def compactZOrder(spark: SparkSession, path: String, xCol: String,
                    yCol: String, slices: Int = 16,
                    statsCols: Seq[String] = Nil): Int = {
    require(slices >= 1, s"slices must be >= 1, got $slices")
    val v0 = latestVersion(path).getOrElse(
      sys.error(s"zorder compact of non-existent table $path"))
    // segment rewrites work in PHYSICAL names (readRows output); the
    // stats map is keyed physically too, matching what readProbe probes
    val (cmP, cmD) = columnMapping(path, v0)
    val xP = physicalName(cmP, cmD, xCol)
    val yP = physicalName(cmP, cmD, yCol)
    val statsP = statsCols.map(physicalName(cmP, cmD, _))
    val segs = manifestRows(spark, path, v0)._2
    if (segs.length <= 1 && !segs.exists(dvListOf(_).nonEmpty)) return v0
    val v = v0 + 1
    // readRows applies any deletion vectors: the rewrite purges them.
    // mergeSchema: same straddle hazard as [[compact]] — a z-order
    // rewrite must carry evolved/re-added columns, not drop them
    val all = readRows(spark, segs.toSeq, mergeSchema = true).get
    val xL = col(xP).cast("long"); val yL = col(yP).cast("long")
    val b = all.agg(count(lit(1)), min(xL), max(xL), min(yL), max(yL))
      .collect().head
    if (b.getLong(0) == 0L)
      // every row tombstoned: the rewrite is a segment-less manifest
      return commit(localFrame(spark, (manifestStatsSchema, Nil)), path, v,
        rewriteOnly = true)
    // a null coordinate leaves its row's z null, and [[writeSlices]]
    // files a null slice id under slice 0; an all-null axis bins from 0
    def bound(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val (xMin, xMax, yMin, yMax) =
      (bound(b, 1), bound(b, 2), bound(b, 3), bound(b, 4))
    val xW = (xMax - xMin) / 65536L + 1L
    val yW = (yMax - yMin) / 65536L + 1L
    val z = SpatialLayout.zValue16(
      expr(s"(CAST($xP AS BIGINT) - ${xMin}L) div ${xW}L"),
      expr(s"(CAST($yP AS BIGINT) - ${yMin}L) div ${yW}L"))
    val withZ = all.withColumn("_snap_z", z)
    val zb = withZ.agg(min(col("_snap_z")), max(col("_snap_z")))
      .collect().head
    val (zMin, zMax) = (bound(zb, 0), bound(zb, 1))
    val width = (zMax - zMin) / slices + 1L
    // the SECONDARY columns (yCol plus any caller statsCols) land in
    // the manifest's per-column `stats` map — adding a stats column is
    // one more agg pair here, never a new manifest shape fork downstream
    val secondary = (yP +: statsP).distinct.filterNot(_ == xP)
    val rows = writeSlices(withZ
        .withColumn("_snap_slice",
          expr(s"CAST((_snap_z - ${zMin}L) div ${width}L AS INT)"))
        .drop("_snap_z"),
      path, v, "c", xP, 2L * segs.map(liveRowsOf).sum / slices,
      secondary.flatMap(c =>
        Seq(min(col(c).cast("long")), max(col(c).cast("long")))))
      .map { s =>
        val sMap = secondary.zipWithIndex.map { case (c, j) =>
          c -> org.apache.spark.sql.Row(s.extra(2 * j), s.extra(2 * j + 1))
        }.toMap
        org.apache.spark.sql.Row(s.seg, s.n, s.mn, s.mx, sMap, s.bloom)
      }
    commit(localFrame(spark, (manifestStatsSchema, rows)), path, v,
      rewriteOnly = true)
  }

  /** TARGETED TOMBSTONE PURGE — Iceberg's rewrite-position-deletes /
    * Delta's REORG PURGE: rewrite ONLY the segments whose
    * deletion-vector density has reached `minDvFrac` (fraction of
    * physical rows tombstoned), each into ONE new segment holding its
    * live rows, and carry every other segment — including
    * lightly-vectored ones below the threshold — by reference,
    * verbatim. [[compact]] also purges, but by FOLDING segments
    * together, which destroys their clustering (and at 100 TB a
    * full-table fold is not a thing you run because one segment
    * accumulated tombstones); the MoR read tax lives only in the
    * vectored segments, so that is all a purge rewrites. Clustering is
    * preserved segment-by-segment — a purged z-order tile is still the
    * same tile minus its dead rows — so the per-column `stats` map
    * rides onto the rewritten row unchanged (rows only shrink: the old
    * bounds stay correct, and stay tight enough to prune with).
    *
    * One data pass for ALL purged segments: each target's live rows
    * (vectors applied) are tagged with the target's index and written
    * in ONE partitioned write, then slice dirs rename into the segment
    * namespace and per-target stats come from ONE grouped aggregation
    * — never a job per segment. A fully-tombstoned segment rewrites to
    * zero rows and is elided. Commits REWRITE-ONLY (identical logical
    * rows — the change feed skips it); the replaced segments and any
    * tombstone dirs no surviving manifest references are [[gc]]'s to
    * reclaim. Returns the new version, or the current one when no
    * segment crosses the threshold. */
  def purgeDv(spark: SparkSession, path: String, keyCol: String,
              minDvFrac: Double = 0.0): Int = {
    require(minDvFrac >= 0.0 && minDvFrac <= 1.0,
      s"minDvFrac is a fraction of a segment's physical rows, " +
        s"got $minDvFrac")
    val v0 = latestVersion(path).getOrElse(
      sys.error(s"purge of non-existent table $path"))
    // segment rewrites work in PHYSICAL names (readRows output)
    val (cmP, cmD) = columnMapping(path, v0)
    val keyP = physicalName(cmP, cmD, keyCol)
    val (mSchema, rows) = manifestRows(spark, path, v0)
    val (targets, carried) = rows.partition { r =>
      dvListOf(r).nonEmpty && r.getAs[Long]("n_rows") > 0 &&
        dvRowsOf(r).toDouble >= minDvFrac * r.getAs[Long]("n_rows")
    }
    if (targets.isEmpty) return v0
    val v = v0 + 1
    val tagged = targets.zipWithIndex.map { case (r, i) =>
      readRows(spark, Seq(r)).get.withColumn("_snap_slice", lit(i))
      // allowMissingColumns: targets may straddle an additive schema
      // evolution (some segments rewritten wide, others still narrow,
      // both over the DV-density threshold) — narrow ones null-fill
      // the evolved columns, matching merge()'s mergeSchema survivor
      // read, instead of failing the purge (r16 ADVICE)
    }.reduce(_.unionByName(_, allowMissingColumns = true))
    // a bloom sidecar only where the manifest shape has a bloom column
    val hasBloom = mSchema.fieldNames.contains("bloom")
    val rewritten = writeSlices(tagged, path, v, "p", keyP,
        targets.map(liveRowsOf).max, sidecars = hasBloom)
      .map { s =>
        val r = targets(s.idx)
        // row surgery on the TARGET's own manifest row: seg/row-count/
        // key bounds refresh, dvs and dv_rows clear, the key bloom
        // refreshed over the live rows (when the manifest shape has
        // one), and every other column — the stats map above all —
        // carries verbatim, so the shape never forks here
        val vals = r.toSeq.toArray
        vals(r.fieldIndex("seg")) = s.seg
        vals(r.fieldIndex("n_rows")) = s.n
        vals(r.fieldIndex("min_key")) = s.mn
        vals(r.fieldIndex("max_key")) = s.mx
        if (r.schema.fieldNames.contains("dvs"))
          vals(r.fieldIndex("dvs")) = null
        if (r.schema.fieldNames.contains("dv_rows"))
          vals(r.fieldIndex("dv_rows")) = null
        if (hasBloom) vals(r.fieldIndex("bloom")) = s.bloom
        org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
      }
    commit(localFrame(spark, (mSchema, carried ++ rewritten)), path, v,
      rewriteOnly = true)
  }

  /** One segment [[writeSlices]] wrote: slice id, segment dir, stats
    * (row count, key min/max, the caller's `extra` aggregates in order;
    * boxed, null where the slice holds only nulls) and the key-bloom
    * sidecar path (null when none was written). */
  private case class Slice(idx: Int, seg: String, n: Long,
                           mn: java.lang.Long, mx: java.lang.Long,
                           extra: Seq[java.lang.Long], bloom: String)

  /** Basename prefix of [[writeSlices]]' temp dir under `_log`: not
    * hidden (a `.`/`_` name makes Spark's read-back warn that all paths
    * were ignored), and swept by [[gc]] after a crash. */
  private val SlicesTmp = "slices-tmp-"

  /** Bloom items for an expected key count: floored so tiny segments
    * still get a usable filter, capped at [[MaxBloomItems]] so a
    * sidecar (and the driver pass that loads it) stays MBs-bounded. */
  private def bloomItems(n: Long): Long =
    math.max(1024L, math.min(n, MaxBloomItems))

  /** The one SLICED segment write: `tagged` carries an int slice id in
    * `_snap_slice`, and every non-empty slice becomes one segment
    * `data/<prefix>vNNNNN-<slice>-<uuid>` of version `v` — ONE
    * partitioned write (the rows are shuffled once on the slice id into
    * an attempt-unique temp dir under `_log`), per-slice stats from ONE
    * aggregation grouped by the slice id (row count, key min/max, the
    * caller's `extra` aggregates, a key bloom of `items` expected keys,
    * [[bloomItems]]-clamped) — never a re-scan or a read job per slice —
    * then each slice dir renamed into the segment namespace, its bloom
    * sidecar written when `sidecars`, and the temp dir dropped. A null
    * slice id (a null key's) files under slice 0. The temp dir reads
    * back under `tagged`'s schema: when every slice is empty the write
    * emits no data file, and schema inference on it would throw.
    * Returns the slices that received rows, by slice id. */
  private def writeSlices(tagged: DataFrame, path: String, v: Int,
                          prefix: String, keyP: String, items: Long,
                          extra: Seq[Column] = Nil,
                          sidecars: Boolean = true): Seq[Slice] = {
    val tmp = new Path(logDir(path),
      SlicesTmp + java.util.UUID.randomUUID().toString.take(8))
    val fs = fsOf(tmp)
    val sliced = tagged.withColumn("_snap_slice",
      coalesce(col("_snap_slice"), lit(0)))
    sliced.repartition(col("_snap_slice"))
      .write.partitionBy("_snap_slice").parquet(tmp.toString)
    val key = col(keyP).cast("long")
    val aggs = Seq(count(lit(1)), min(key), max(key)) ++ extra :+
      SparkBridge.bloomFilterAgg(xxhash64(key), bloomItems(items))
    val stats = ParquetFooter.read(tagged.sparkSession, Seq(tmp.toString),
        known = Some(sliced.schema))
      .groupBy(col("_snap_slice"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().toSeq
      .sortBy(_.getInt(0))
    fs.mkdirs(new Path(path, "data"))
    val out = stats.map { r =>
      val i = r.getInt(0)
      val dir = f"$path/data/$prefix$v%05d-$i-" +
        java.util.UUID.randomUUID().toString.take(8)
      if (!fs.rename(new Path(tmp, s"_snap_slice=$i"), new Path(dir)))
        sys.error(s"could not move slice $i to $dir")
      val bloom = Option(r.getAs[Array[Byte]](4 + extra.length))
        .filter(_ => sidecars).map(writeBloomSidecar(path, v, i, _)).orNull
      Slice(i, dir, r.getLong(1), r.getAs[java.lang.Long](2),
        r.getAs[java.lang.Long](3),
        (4 until 4 + extra.length).map(r.getAs[java.lang.Long]), bloom)
    }
    fs.delete(tmp, true)
    out
  }

  /** Manifest schema when per-column secondary stats are present: the
    * 4-column base plus `stats: map<column, struct<mn, mx>>`. Readers
    * treat a missing map, a null map, or a missing entry identically —
    * "scan it"; writers that add a stats column never fork the
    * manifest shape again. */
  private val manifestStatsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("seg", StringType, nullable = true),
      StructField("n_rows", LongType, nullable = true),
      StructField("min_key", LongType, nullable = true),
      StructField("max_key", LongType, nullable = true),
      StructField("stats", MapType(StringType,
        StructType(Seq(StructField("mn", LongType, nullable = true),
          StructField("mx", LongType, nullable = true))),
        valueContainsNull = false), nullable = true),
      StructField("bloom", StringType, nullable = true)))
  }

  /** The `[mn, mx]` range recorded for `c` in a manifest row's
    * per-column stats map, or None when the manifest/row/entry lacks
    * it (readers must then scan the segment — correct, never tight). */
  private def statsRange(r: org.apache.spark.sql.Row,
                         c: String): Option[(Long, Long)] = {
    if (!r.schema.fieldNames.contains("stats")) return None
    val i = r.fieldIndex("stats")
    if (r.isNullAt(i)) return None
    r.getMap[String, org.apache.spark.sql.Row](i).get(c)
      // a slice of nulls records null bounds: no range to prune on
      .filter(s => !s.isNullAt(0) && !s.isNullAt(1))
      .map(s => (s.getLong(0), s.getLong(1)))
  }

  /** DELETION-VECTOR (merge-on-read) plumbing. A [[mergeDv]] suppresses
    * rows WITHOUT rewriting their segments: it commits a TOMBSTONE
    * parquet directory under `path/dv/` whose rows are
    * `(_snap_seg, <keyCol>)` — "this key's rows in this segment are
    * deleted" — and attaches the tombstone's path to each affected
    * segment's manifest row (`dvs: array<string>`, accumulating across
    * merges) together with the exact suppressed-row count
    * (`dv_rows: long`, so logical row accounting never needs a data
    * scan). Readers apply a segment's tombstones with ONE anti join;
    * compaction folds them into data and drops them; [[gc]] reclaims
    * tombstone dirs no surviving manifest references. Tables that never
    * see a [[mergeDv]] never grow the columns — every other verb
    * carries them opaquely via `unionByName(allowMissingColumns)`. */
  /** Serialized-bloom size cap: bounds a sidecar (and the driver pass
    * that loads one per candidate segment) to single-digit MBs; past
    * the cap the filter's false-positive rate degrades gracefully
    * rather than the manifest pass growing without bound. */
  private val MaxBloomItems = 4L * 1024 * 1024

  /** The key-bloom sidecar path recorded for a manifest row, if the
    * segment has one (only maintenance rewrites — [[compact]] /
    * [[compactZOrder]] — build them; everything else carries or
    * nulls the column, and a missing bloom just means "scan it"). */
  private def bloomPathOf(r: org.apache.spark.sql.Row): Option[String] =
    if (!r.schema.fieldNames.contains("bloom")) None
    else {
      val i = r.fieldIndex("bloom")
      if (r.isNullAt(i)) None else Option(r.getString(i))
    }

  /** Write serialized bloom bytes under `path/bloom/` (attempt-unique
    * name, [[gc]]-swept when unreferenced) and return the sidecar
    * path. */
  private def writeBloomSidecar(path: String, v: Int, idx: Int,
                                bytes: Array[Byte]): String = {
    val f = new Path(s"$path/bloom",
      f"b$v%05d-$idx-${java.util.UUID.randomUUID().toString.take(8)}")
    val fs = fsOf(f)
    fs.mkdirs(f.getParent)
    val out = fs.create(f, false)
    try out.write(bytes) finally out.close()
    f.toString
  }

  private def dvListOf(r: org.apache.spark.sql.Row): Seq[String] =
    if (!r.schema.fieldNames.contains("dvs")) Nil
    else {
      val i = r.fieldIndex("dvs")
      if (r.isNullAt(i)) Nil else r.getSeq[String](i)
    }

  private def dvRowsOf(r: org.apache.spark.sql.Row): Long =
    if (!r.schema.fieldNames.contains("dv_rows")) 0L
    else {
      val i = r.fieldIndex("dv_rows")
      if (r.isNullAt(i)) 0L else r.getLong(i)
    }

  /** Physical rows minus tombstoned rows — the segment's contribution
    * to the table's logical row count. */
  private def liveRowsOf(r: org.apache.spark.sql.Row): Long =
    r.getAs[Long]("n_rows") - dvRowsOf(r)

  /** Read the data of `rows` (manifest rows) with each segment's
    * deletion vectors applied. Segments with no tombstones go through
    * the plain multi-directory parquet scan (bit-identical plan to the
    * pre-DV read path — DV-free tables pay nothing); tombstoned
    * segments go through [[scanLive]]: ONE multi-directory scan
    * cleaned by ONE broadcast anti join against the union of their
    * attached tombstone files on `(_snap_seg, key)` — a tombstone's
    * rows target exactly
    * one segment, so entries for segments outside this read (possible
    * after a COW rewrite or restore) match nothing by construction.
    *
    * The broadcast is deliberate: tombstones are merge-delta-sized by
    * construction (a [[mergeDv]] writes at most its incoming key
    * count), and [[compact]]/[[compactZOrder]] fold them away — a
    * tombstone set too big to broadcast is a table overdue for its
    * OPTIMIZE, not a read-path regression.
    *
    * None when `rows` is empty (callers fall back to their schema
    * anchor). */
  private def readRows(spark: SparkSession,
                       rows: Seq[org.apache.spark.sql.Row],
                       mergeSchema: Boolean = false): Option[DataFrame] = {
    if (rows.isEmpty) return None
    val (dvd, plain) = rows.partition(dvListOf(_).nonEmpty)
    def readPlain(segs: Seq[String]): DataFrame =
      ParquetFooter.read(spark, segs, mergeSchema)
    val plainDf =
      if (plain.isEmpty) None
      else Some(readPlain(plain.map(_.getAs[String]("seg"))))
    val dvdDf =
      if (dvd.isEmpty) None
      else Some(scanLive(spark, dvd.map(_.getAs[String]("seg")),
        dvd.flatMap(dvListOf).distinct, readPlain)._1.drop("_snap_seg"))
    (plainDf, dvdDf) match {
      case (Some(p), Some(d)) =>
        // allowMissingColumns unconditionally: the plain/dvd split can
        // straddle an additive evolution boundary (a COW merge widened
        // only the segments it touched), and both groups come from the
        // SAME logical table — a default mergeSchema=false read must
        // null-fill exactly like the pre-DV single multi-directory scan
        // returned rows, not throw AnalysisException (r16 ADVICE)
        Some(p.unionByName(d, allowMissingColumns = true))
      case (p, d) => p.orElse(d)
    }
  }

  /** The rows of segment dirs `segs`, read by `scan`, each tagged with
    * its owning segment in `_snap_seg`, minus the rows the tombstone
    * dirs `dvPaths` suppress (ONE broadcast anti join on
    * `(_snap_seg, key)`). ONE multi-directory scan recovers the owning
    * segment from each row's file path by dir BASENAME (version+attempt
    * unique; two substring_index calls per row, no regex, no full-path
    * string keys) and cuts the tombstones' seg strings the same way —
    * a union of per-segment tagged scans costs a plan node and a
    * codegen break per segment, and at a 100 TB segment count that
    * union IS the read. A basename collision (take(8) uuid) falls back
    * to that union, tagged with the full seg string, correct always.
    * Also returns the column that maps `_snap_seg` back to the
    * manifest's seg string. */
  private def scanLive(spark: SparkSession, segs: Seq[String],
                       dvPaths: Seq[String],
                       scan: Seq[String] => DataFrame): (DataFrame, Column) = {
    val byName = segs.map(s => new Path(s).getName -> s).toMap
    val oneScan = byName.size == segs.length
    val tagged =
      if (oneScan) scan(segs).withColumn("_snap_seg", substring_index(
        substring_index(input_file_name(), "/", -2), "/", 1))
      else segs.map(s => scan(Seq(s)).withColumn("_snap_seg", lit(s)))
        // allowMissingColumns: the segments are one logical table whose
        // widths may straddle an additive schema evolution; a default
        // read must null-fill like the single multi-dir scan does, never
        // throw (r16 ADVICE)
        .reduce(_.unionByName(_, allowMissingColumns = true))
    val live =
      if (dvPaths.isEmpty) tagged
      else {
        val tombs = ParquetFooter.read(spark, dvPaths)
        val kc = tombs.columns.filter(_ != "_snap_seg").head
        tagged.join(broadcast(
          if (!oneScan) tombs
          else tombs.withColumn("_snap_seg",
            substring_index(col("_snap_seg"), "/", -1))),
          Seq("_snap_seg", kc), "left_anti")
      }
    val segOf =
      if (!oneScan) col("_snap_seg")
      else element_at(map(byName.toSeq.flatMap { case (n, s) =>
        Seq(lit(n), lit(s)) }: _*), col("_snap_seg"))
    (live, segOf)
  }

  /** MERGE-ON-READ merge — [[merge]]'s deletion-vector twin: the same
    * upsert+delete semantics, but affected segments are NEVER
    * rewritten. The commit writes (a) one tombstone directory listing
    * exactly the incoming keys PRESENT in each affected segment (a
    * key-column-only scan of the overlapping segments decides
    * presence, with prior tombstones applied so counts never
    * double-count) and (b) one delta segment holding the non-delete
    * incoming rows; every prior segment rides into the new manifest BY
    * REFERENCE — affected ones with the tombstone path appended to
    * their `dvs` list and their `dv_rows` advanced by the exact
    * suppressed count.
    *
    * WRITE COST IS O(delta): a point delete in a 1 GB segment writes a
    * few-KB tombstone where [[merge]]'s copy-on-write rewrites the
    * gigabyte (spec-measured). The read tax — one broadcast anti join
    * per read until the next [[compact]]/[[compactZOrder]] folds the
    * tombstones into data — is the documented MoR trade every
    * lakehouse (Delta deletion vectors, Iceberg merge-on-read) makes
    * for update-heavy workloads; the reference's per-run result
    * re-import cycle (ram-analysis/app/index.js:122-134) is exactly
    * that workload. Readers of OLD versions are untouched: the
    * tombstone is referenced only from the new manifest, so time
    * travel before the merge reads the unsuppressed rows. */
  def mergeDv(spark: SparkSession, df: DataFrame, path: String,
              keyCol: String, deleteCol: String,
              txn: Option[(String, Int)] = None): Int = {
    val v = latestVersion(path).getOrElse(
      sys.error(s"mergeDv into non-existent table $path")) + 1
    mergeDvAt(spark, df, path, keyCol, deleteCol, v, keyRange(df, keyCol), txn)
  }

  /** [[mergeDv]] with the target version and key range fixed by the
    * caller — the testable race surface, [[mergeAt]]'s twin. */
  private[graft] def mergeDvAt(spark: SparkSession, df: DataFrame,
                               path: String, keyCol: String,
                               deleteCol: String, v: Int,
                               range: (Long, Long),
                               txn: Option[(String, Int)] = None): Int = {
    // canonical manifest shape: dvs/dv_rows present (null where absent)
    // so driver-side row surgery below works on one fixed schema
    val MergeBase(cmPairs, cmDropped, cmArg, keyP, mc, rows, affected, _) =
      mergeBase(df, path, keyCol, v, range, { m =>
        val mc0 = if (m.columns.contains("dvs")) m
          else m.withColumn("dvs",
            lit(null).cast(org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)))
        if (mc0.columns.contains("dv_rows")) mc0
        else mc0.withColumn("dv_rows", lit(null).cast("long"))
      })
    // which incoming keys are PRESENT per affected segment — ONE
    // column-pruned (keyCol only) presence scan over every affected
    // segment, prior DVs applied; the delta-sized tombstone output
    // carries the manifest's seg strings
    val dvDir = f"$path/dv/d$v%05d-" +
      java.util.UUID.randomUUID().toString.take(8)
    val counts: Map[String, Long] =
      if (affected.isEmpty) Map.empty
      else {
        val (live, segOf) = scanLive(spark,
          affected.map(_.getAs[String]("seg")),
          affected.flatMap(dvListOf).distinct,
          segs => ParquetFooter.read(spark, segs).select(col(keyP)))
        val tomb = live.join(
          broadcast(df.select(col(keyCol).as(keyP)).distinct()),
          Seq(keyP), "left_semi")
          .select(segOf.as("_snap_seg"), col(keyP))
        tomb.write.mode("errorifexists").parquet(dvDir)
        val got = ParquetFooter.read(spark, Seq(dvDir), known = Some(tomb.schema))
          .groupBy(col("_snap_seg")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        if (got.isEmpty) fsOf(new Path(dvDir)).delete(new Path(dvDir), true)
        got
      }
    val carried = rows.map { r =>
      counts.get(r.getAs[String]("seg")) match {
        case None => r
        case Some(n) =>
          val vals = r.toSeq.toArray
          vals(r.fieldIndex("dvs")) = dvListOf(r) :+ dvDir
          vals(r.fieldIndex("dv_rows")) = dvRowsOf(r) + n
          org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq)
      }
    }
    val inserts = toPhysical(df.filter(!col(deleteCol)).drop(deleteCol),
      cmPairs, cmDropped)
    val newSeg = writeSegment(spark, inserts, path, v, 0, keyP)
      .filter(col("n_rows") > 0)
    commit(localFrame(spark, (mc.schema, carried))
      .unionByName(newSeg, allowMissingColumns = true),
      path, v, txn = txn, colMap = cmArg)
  }

  /** Two-column stats-pruned BOX read — [[readRange]]'s 2-D twin over
    * a [[compactZOrder]]ed table: a segment is scanned only when its
    * `[min_key, max_key]` intersects `[xLo, xHi]` AND (when present)
    * its stats-map entry for `yCol` intersects `[yLo, yHi]`; manifests
    * or rows without secondary stats prune on the first column only
    * (correct, just not tight). Both residual predicates push into the
    * scanned segments' parquet scan. Returns (rows, scanned, total). */
  def readBox(spark: SparkSession, path: String, xCol: String,
              yCol: String, xLo: Long, xHi: Long, yLo: Long, yHi: Long,
              version: Option[Int] = None): (DataFrame, Int, Int) =
    readProbe(spark, path, xCol, xLo, xHi, Seq((yCol, yLo, yHi)), version)

  /** N-COLUMN stats-pruned read — the general data-skipping probe: a
    * segment is scanned only when its `[min_key, max_key]` intersects
    * the key probe AND, for EVERY `(c, lo, hi)` in `probes`, its
    * per-column stats-map entry for `c` (when present) intersects
    * `[lo, hi]`. A missing map or entry is "scan it" — conservative,
    * never wrong. All residual predicates push into the scanned
    * segments' parquet scan. Returns (rows, scanned, total). */
  def readProbe(spark: SparkSession, path: String, keyCol: String,
                keyLo: Long, keyHi: Long,
                probes: Seq[(String, Long, Long)],
                version: Option[Int] = None): (DataFrame, Int, Int) =
    readPruned(spark, path, version) { phys =>
      val key = phys(keyCol)
      // probe columns and stats-map entries live in physical names too
      val probesP = probes.map { case (c, lo, hi) => (phys(c), lo, hi) }
      val keep = (r: org.apache.spark.sql.Row) =>
        r.getAs[Long]("max_key") >= keyLo &&
          r.getAs[Long]("min_key") <= keyHi &&
          probesP.forall { case (c, lo, hi) =>
            statsRange(r, c).forall { case (mn, mx) => mx >= lo && mn <= hi }
          }
      (keep, probesP.foldLeft(col(key) >= keyLo && col(key) <= keyHi) {
        case (p, (c, lo, hi)) => p && col(c) >= lo && col(c) <= hi
      })
    }

  /** The one stats-pruned read path: resolve `version` (default latest)
    * and its column mapping, let `prune` — given the logical-to-physical
    * name map — supply the manifest-row keep test and the residual
    * predicate, scan the kept segments (deletion vectors applied) with
    * the residual pushed into the scan, and present the result under the
    * version's logical names. An empty hit set reads as the anchored
    * empty frame. mergeSchema: kept segments may straddle an additive
    * evolution or a field-id re-add, and a pruned read must still
    * surface the columns newer segments added. Returns (rows, segments
    * scanned, segments total). */
  private def readPruned(spark: SparkSession, path: String,
                         version: Option[Int])(
      prune: (String => String) =>
        (org.apache.spark.sql.Row => Boolean, Column))
      : (DataFrame, Int, Int) = {
    val v = version.orElse(latestVersion(path))
      .getOrElse(sys.error(s"no committed version at $path"))
    val (pairs, dropped) = columnMapping(path, v)
    val (keep, residual) = prune(physicalName(pairs, dropped, _))
    val segs = manifestRows(spark, path, v)._2
    val hit = segs.filter(keep)
    val rows = readRows(spark, hit, mergeSchema = true)
      .map(_.filter(residual)).getOrElse(emptyFrame(spark, path, v, segs))
    (applyColMap(rows, pairs, dropped), hit.length, segs.length)
  }

  /** The key bloom sidecar at `p`. */
  private def loadBloom(p: String): org.apache.spark.util.sketch.BloomFilter = {
    val in = fsOf(new Path(p)).open(new Path(p))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** BLOOM-PRUNED POINT LOOKUP — `key = k` data skipping past what
    * min/max ranges can do: after a merge-heavy history (or any
    * interleaved ingest) segment key ranges overlap, so a range probe
    * scans every overlapping segment even though the key's rows live
    * in one or two of them. [[compact]]/[[compactZOrder]] record a
    * per-segment key bloom sidecar (`path/bloom/`, Spark's
    * `util.sketch.BloomFilter` over `xxhash64(key)`, items capped at
    * [[MaxBloomItems]]); this read consults the manifest's range
    * stats FIRST, then tests the surviving candidates' blooms on the
    * driver — segment-count-bounded work, sidecars loaded only for
    * range-surviving rows — and scans only the segments whose filter
    * might contain the key (a missing bloom is "scan it"; a false
    * positive costs one extra segment scan, never a wrong answer —
    * and the pushed `key = k` residual makes that scan a
    * footer-pruned no-op). Deletion vectors compose: a tombstoned
    * key may pass its segment's bloom, and the read's anti join
    * removes it. Returns (rows, segments scanned, segments total). */
  def readPoint(spark: SparkSession, path: String, keyCol: String,
                key: Long,
                version: Option[Int] = None): (DataFrame, Int, Int) = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashLong(key, 42L) // the seed of the xxhash64(...) function
    readPruned(spark, path, version) { phys =>
      ((r: org.apache.spark.sql.Row) =>
        r.getAs[Long]("max_key") >= key && r.getAs[Long]("min_key") <= key &&
          bloomPathOf(r).forall(loadBloom(_).mightContainLong(h)),
        col(phys(keyCol)) === key)
    }
  }

  /** BATCHED point lookup — [[readPoint]] for an id list (the
    * enrichment shape a pipeline actually runs: "fetch these N
    * documents/vectors by id"): ONE manifest pass tests every key
    * against every range-surviving segment's bloom — each sidecar
    * loaded at most once for the whole batch — and ONE scan covers
    * the union of might-contain segments, with the `IN` residual
    * pushed into it. Driver work is (candidate segments x keys)
    * bloom probes on in-memory bitmaps; `keys` is id-list-sized by
    * contract (a corpus-sized probe side belongs in a join, not a
    * point-lookup API). Returns (rows, segments scanned, total). */
  def readPoints(spark: SparkSession, path: String, keyCol: String,
                 keys: Seq[Long],
                 version: Option[Int] = None): (DataFrame, Int, Int) = {
    require(keys.nonEmpty, "readPoints needs at least one key")
    val hashes = keys.map(k => k ->
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(k, 42L))
    val blooms = scala.collection.mutable.Map
      .empty[String, org.apache.spark.util.sketch.BloomFilter]
    readPruned(spark, path, version) { phys =>
      ((r: org.apache.spark.sql.Row) => {
        val (lo, hi) = (r.getAs[Long]("min_key"), r.getAs[Long]("max_key"))
        hashes.exists { case (k, h) =>
          lo <= k && k <= hi && bloomPathOf(r).forall(p =>
            blooms.getOrElseUpdate(p, loadBloom(p)).mightContainLong(h))
        }
      }, col(phys(keyCol)).isin(keys: _*))
    }
  }

  private def stageFile(path: String, name: String) = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"stage names are [A-Za-z0-9_]+, got '$name'")
    new Path(logDir(path), s"stage-$name")
  }

  /** WRITE-AUDIT-PUBLISH, the write step: land `df` as real segment
    * files plus a STAGED manifest (`_log/stage-<name>`) that is NOT a
    * version — readers of any committed version never see staged rows
    * (audit-before-visibility, Iceberg's WAP pattern). The staged
    * manifest lists only the delta segments; [[readStaged]] composes
    * them onto latest, [[publishStage]] turns them into one atomic
    * append commit, [[abandonStage]] drops the manifest (the segments
    * become unreferenced and [[gc]] reclaims them — gc keeps segments
    * referenced by OPEN stages). Re-staging a name replaces the prior
    * staged manifest (its segments orphan for gc). */
  def stage(spark: SparkSession, df: DataFrame, path: String,
            keyCol: String, name: String): Unit = {
    val v = latestVersion(path).getOrElse(
      sys.error(s"stage onto non-existent table $path"))
    // staged segments are physical like committed ones
    val (cmPairs, cmDropped) = columnMapping(path, v)
    val rows = writeSegment(spark, toPhysical(df, cmPairs, cmDropped),
      path, v + 1, 0, physicalName(cmPairs, cmDropped, keyCol))
      .collect().filter(_.getAs[Long]("n_rows") > 0)
      .map(r => (r.getAs[String]("seg"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("min_key"), r.getAs[Long]("max_key")))
    import spark.implicits._
    val f = stageFile(path, name)
    val fs = fsOf(f)
    val tmp = new Path(logDir(path),
      s".stage-$name-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    rows.toSeq.toDF("seg", "n_rows", "min_key", "max_key")
      .repartition(1).write.mode("errorifexists").parquet(tmp.toString)
    // re-staging a name replaces the prior manifest (a manifest is a
    // parquet DIRECTORY — rename-overwrite onto a non-empty dir is not
    // portable, so drop it first; the window only affects this stage's
    // own readers, never committed versions)
    if (fs.exists(f)) fs.delete(f, true)
    val fc = FileContext.getFileContext(fs.makeQualified(f).toUri,
      hadoopConf)
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(f))
  }

  def stageExists(path: String, name: String): Boolean = {
    val f = stageFile(path, name)
    fsOf(f).exists(f)
  }

  /** The table AS IF the stage were published: latest ∪ the staged
    * delta — the frame the audit queries run against. */
  def readStaged(spark: SparkSession, path: String,
                 name: String): DataFrame = {
    val staged = ParquetFooter.rows(spark, stageFile(path, name))._2
      .map(_.getAs[String]("seg"))
    val base = read(spark, path)
    if (staged.isEmpty) base
    else {
      // staged segments are physical; the audit frame is logical
      val v = latestVersion(path).get
      val (pairs, dropped) = columnMapping(path, v)
      base.unionByName(
        applyColMap(ParquetFooter.read(spark, staged), pairs, dropped))
    }
  }

  /** Publish a stage as ONE atomic append commit: latest's manifest
    * plus the staged segments become the next version (the commit
    * rename adjudicates concurrent writers as always), then the
    * staged manifest is dropped. The data files move by REFERENCE —
    * publishing is a manifest-sized operation no matter the batch. */
  def publishStage(spark: SparkSession, path: String,
                   name: String): Int = {
    val v = latestVersion(path).getOrElse(
      sys.error(s"publish onto non-existent table $path"))
    val f = stageFile(path, name)
    val staged = localFrame(spark, ParquetFooter.rows(spark, f))
    // allowMissingColumns: a publish onto a [[compactZOrder]]ed table
    // unions the stats-less staged manifest into a stats-mapped latest
    // — the staged segments' stats map reads as null (readers
    // prune conservatively), exactly [[appendAt]]'s posture
    val committed = commit(
      manifest(spark, path, v).unionByName(staged,
        allowMissingColumns = true), path, v + 1)
    fsOf(f).delete(f, true)
    committed
  }

  /** Drop a stage without publishing: the audit failed. The segment
    * files orphan; [[gc]]'s unreferenced sweep reclaims them. */
  def abandonStage(path: String, name: String): Unit = {
    val f = stageFile(path, name)
    fsOf(f).delete(f, true)
    ()
  }

  /** RESTORE — re-commit version `v`'s manifest as a NEW latest
    * version (Delta RESTORE / Iceberg rollback): the "bad batch" undo.
    * Pure copy-on-write by reference — zero data rewritten, one
    * segment-count-sized manifest commit — and nothing is erased: the
    * rolled-back commits stay time-travelable for audit until [[gc]]
    * expires them, and [[diff]] across the restore yields exactly the
    * inverse change feed. No-op when `v` is already latest. */
  def restore(spark: SparkSession, path: String, v: Int): Int = {
    val latest = latestVersion(path).getOrElse(
      sys.error(s"restore of non-existent table $path"))
    require(manifestExists(path, v),
      s"cannot restore expired or missing version $v at $path")
    if (v == latest) return latest
    // restore restores the SCHEMA too: the target version's column
    // mapping rides with its manifest, not the pre-restore latest's
    commit(manifest(spark, path, v), path, latest + 1,
      colMap = ColMapSet(colMapText(path, v)))
  }

  /** SHALLOW CLONE (Delta CLONE / Iceberg branch-from-snapshot): the
    * clone is a NEW table whose v0 manifest references the source's
    * version-`version` segments BY PATH — zero data copied, one
    * manifest-sized commit no matter the table size. The cloned
    * version is PINNED on the source FIRST, so the source's retention
    * [[gc]] can structurally never reclaim segments the clone serves —
    * this closes the dangling-clone hazard shallow clones are
    * documented to carry elsewhere (dropping the clone and [[unpin]]ing
    * the source version is the clone owner's explicit lifecycle act).
    * Writes to the clone are copy-on-write as always: its commits
    * write segments under the CLONE's root; source segments it still
    * references ride by path until a clone-side rewrite replaces them,
    * and the clone's own [[gc]] only sweeps the clone's data directory
    * — it cannot touch source files. Returns the clone's version 0. */
  def cloneTable(spark: SparkSession, srcPath: String, dstPath: String,
                 version: Option[Int] = None): Int = {
    val v = version.orElse(latestVersion(srcPath)).getOrElse(
      sys.error(s"clone of non-existent table $srcPath"))
    require(latestVersion(dstPath).isEmpty,
      s"clone target already exists at $dstPath")
    require(manifestExists(srcPath, v),
      s"cannot clone expired or missing version $v at $srcPath")
    pin(srcPath, v)
    // the clone inherits the cloned version's column mapping (commit's
    // default inherit looks at the DESTINATION's history, which is empty)
    commit(manifest(spark, srcPath, v), dstPath, 0,
      colMap = ColMapSet(colMapText(srcPath, v)))
  }

  private def pinsDir(path: String) = new Path(logDir(path), "pins")

  /** PIN a version against retention GC — the "train run X read corpus
    * version N" contract made durable: a pinned version's manifest and
    * segments survive every [[gc]] until [[unpin]]. Pin state is a
    * marker file per version (crash-safe: creation is one atomic file
    * create; no manifest is ever rewritten). */
  def pin(path: String, v: Int): Unit = {
    val fs = fsOf(new Path(path))
    require(fs.exists(new Path(manifestDir(path, v))),
      s"cannot pin non-existent version $v at $path")
    fs.mkdirs(pinsDir(path))
    fs.create(new Path(pinsDir(path), f"v$v%05d"), true).close()
  }

  def unpin(path: String, v: Int): Unit = {
    val fs = fsOf(new Path(path))
    fs.delete(new Path(pinsDir(path), f"v$v%05d"), false)
    ()
  }

  /** Whether version `v`'s manifest is still on disk — false once
    * [[gc]] has expired it (the observable retention boundary). */
  def manifestExists(path: String, v: Int): Boolean =
    fsOf(new Path(path)).exists(new Path(manifestDir(path, v)))

  /** The zero-row frame under the table's schema, for a read with no
    * segment to scan. The SCHEMA ANCHOR is the first of the manifest
    * rows `rows` the caller already holds, else the first segment of
    * the nearest surviving version at or below `v`: a merge that
    * deletes every row legitimately commits a SEGMENT-LESS manifest
    * (the empty replacement segment is elided), so empty-result paths
    * must not assume `segs.head` exists. The anchor's footer gives the
    * schema (a driver read, no segment scan). Fails only when no
    * surviving version lists any segment at all. */
  private def emptyFrame(spark: SparkSession, path: String, v: Int,
                         rows: Seq[org.apache.spark.sql.Row]): DataFrame = {
    val anchor = rows.headOption.map(_.getAs[String]("seg")).orElse(
      (v to 0 by -1).iterator
        .filter(manifestExists(path, _))
        .map(u => manifestRows(spark, path, u)._2.headOption
          .map(_.getAs[String]("seg")))
        .collectFirst { case Some(s) => s })
    val seg = anchor.getOrElse(sys.error(
      s"read of $path at v$v: no surviving version lists a segment to " +
        "anchor the table schema"))
    localFrame(spark, (ParquetFooter.schema(spark, Seq(seg))
      .getOrElse(sys.error(s"segment $seg of $path has no parquet file")), Nil))
  }

  def pinnedVersions(path: String): Set[Int] = {
    val d = pinsDir(path)
    val fs = fsOf(d)
    if (!fs.exists(d)) Set.empty
    else fs.listStatus(d)
      .map(_.getPath.getName.stripPrefix("v").toInt).toSet
  }

  /** Retention GC — reclaims the history [[compact]] makes obsolete:
    * every version except the newest `retainLast` and every PINNED
    * version ([[pin]]) is expired — its manifest deleted, and any
    * segment referenced by NO retained version's manifest deleted with
    * it. A pinned or retained version is REFUSED by construction: the
    * kept-segment set is computed as the union over every retained
    * manifest BEFORE anything is deleted, so files a surviving version
    * references are structurally unreachable by the delete pass —
    * time travel to a pinned version is byte-identical after any
    * number of GCs (spec-proven). Deletion order (orphan segments,
    * then expired manifests) means a mid-GC crash can only leave an
    * expired version torn — never a retained one. Also sweeps
    * UNREFERENCED data directories (crashed [[writeSegment]] attempts
    * — see its orphan note) and crashed commit temp dirs under `_log`:
    * anything no on-disk manifest lists is reclaimed. GC must not run
    * concurrently with a writer (an in-flight segment or temp manifest
    * is unreferenced until its commit) — the single-maintainer
    * discipline every lakehouse GC documents. Each surviving manifest
    * is decoded once, on the driver. Returns the expired version
    * numbers. */
  def gc(spark: SparkSession, path: String, retainLast: Int): Seq[Int] = {
    require(retainLast >= 1, "must retain at least the latest version")
    val latest = latestVersion(path).getOrElse(
      sys.error(s"gc of non-existent table $path"))
    val fs = fsOf(new Path(path))
    val retained = (0 to latest)
      .filter(v => v > latest - retainLast).toSet ++ pinnedVersions(path)
    val rowsOf = (0 to latest).filter(manifestExists(path, _))
      .map(v => v -> manifestRows(spark, path, v)._2).toMap
    val (kept, expiredRows) = rowsOf.partition { case (v, _) => retained(v) }
    val expired = expiredRows.keys.toSeq.sorted
    def segsOf(rows: Iterable[Seq[Row]]): Set[String] =
      rows.flatten.map(_.getAs[String]("seg")).toSet
    val keep = segsOf(kept.values)
    // ownership is root-scoped: segments referenced from OUTSIDE this
    // table's data directory (a shallow [[cloneTable]]'s by-path
    // references into its source) are the SOURCE's to reclaim — this
    // table's gc must never delete another table's files
    val ownPrefix = fs.makeQualified(new Path(path, "data")).toString + "/"
    val orphans = (segsOf(expiredRows.values) -- keep)
      .filter(s => fs.makeQualified(new Path(s)).toString
        .startsWith(ownPrefix))
    orphans.foreach(s => fs.delete(new Path(s), true))
    expired.foreach(v => fs.delete(new Path(manifestDir(path, v)), true))
    // unreferenced-segment sweep: reclaim crashed writeSegment attempts
    // — data dirs no surviving (retained) manifest lists. OPEN stages
    // count as references: a staged-but-unpublished batch is live
    // until published or abandoned.
    val dataDir = new Path(path, "data")
    if (fs.exists(dataDir)) {
      val ld0 = new Path(logDir(path))
      val stagedSegs = fs.listStatus(ld0).toSeq
        .filter(_.getPath.getName.startsWith("stage-"))
        .flatMap(st => ParquetFooter.rows(spark, st.getPath)._2
          .map(_.getAs[String]("seg")))
      val referenced = (keep ++ stagedSegs)
        .map(s => fs.makeQualified(new Path(s)))
      fs.listStatus(dataDir).toSeq
        .filterNot(st => referenced.contains(fs.makeQualified(st.getPath)))
        .foreach(st => fs.delete(st.getPath, true))
    }
    // deletion-vector sweep: a tombstone dir ([[mergeDv]]) lives until
    // no surviving manifest references it — a COW rewrite, compaction,
    // or the expiry of every version that listed it orphans the dir.
    // Same ownership scoping as segments: only dirs under THIS table's
    // dv/ are listed, so a shallow clone's by-path references into its
    // source are the source's to reclaim (and its pin protects them).
    val dvRoot = new Path(path, "dv")
    if (fs.exists(dvRoot)) {
      val refDvs = kept.values.flatten.flatMap(dvListOf)
        .map(s => fs.makeQualified(new Path(s))).toSet
      fs.listStatus(dvRoot).toSeq
        .filterNot(st => refDvs.contains(fs.makeQualified(st.getPath)))
        .foreach(st => fs.delete(st.getPath, true))
    }
    // key-bloom sidecar sweep: same reachability rule as tombstones —
    // a sidecar lives until no surviving manifest's `bloom` column
    // references it (segment rewrites and version expiry orphan them)
    val bloomRoot = new Path(path, "bloom")
    if (fs.exists(bloomRoot)) {
      val refBlooms = kept.values.flatten.flatMap(bloomPathOf)
        .map(s => fs.makeQualified(new Path(s))).toSet
      fs.listStatus(bloomRoot).toSeq
        .filterNot(st => refBlooms.contains(fs.makeQualified(st.getPath)))
        .foreach(st => fs.delete(st.getPath, true))
    }
    // crashed temp dirs inside _log — commit/hint temps (hidden
    // `.`-prefixed names) and [[writeSlices]]' — losers delete their
    // own, this catches hard crashes
    val ld = new Path(logDir(path))
    if (fs.exists(ld)) {
      fs.listStatus(ld).toSeq
        .filter { st =>
          val n = st.getPath.getName
          n.startsWith(".") || n.startsWith(SlicesTmp)
        }
        .foreach(st => fs.delete(st.getPath, true))
    }
    expired
  }

  /** CHANGE DATA FEED — the row-level difference between two committed
    * versions (Delta's CDF / Iceberg's changelog read, derived rather
    * than stored): every key inserted, updated or deleted between
    * `vFrom` and `vTo`, with the old and new payloads side by side.
    *
    * SEGMENT-AWARE: copy-on-write means the two manifests SHARE every
    * untouched segment by reference, and a key's row lives in exactly
    * one segment per version — so rows in shared segments are
    * byte-identical in both versions and cannot be part of the diff.
    * Only the symmetric difference of the segment lists is scanned
    * (the segments `vTo` rewrote or added, and the `vFrom` segments
    * they replaced); the diff of a small commit against a huge table
    * costs the commit's size, never the table's. One shuffle-hash
    * full-outer join on the key classifies the scanned rows:
    * only-new = insert, only-old = delete, both-with-different-payload
    * = update; a rewritten survivor row (both sides identical) is
    * dropped — it moved segments without changing. */
  def diff(spark: SparkSession, path: String, vFrom: Int, vTo: Int,
           keyCol: String): DataFrame = {
    require(vFrom < vTo, s"diff requires vFrom < vTo, got $vFrom..$vTo")
    val from = manifestRows(spark, path, vFrom)._2
    val to = manifestRows(spark, path, vTo)._2
    // the copy-on-write sharing unit is (segment, deletion vectors): a
    // [[mergeDv]] changes a segment's dvs list WITHOUT changing its
    // path, and its suppressed rows must surface as deletes — so the
    // symmetric difference is computed on the pair, and a segment
    // whose dvs changed is read on BOTH sides (each under its own
    // tombstones; the unsuppressed survivors are identical on both and
    // fall to the <=> filter below)
    def ident(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("seg"), dvListOf(r))
    val toIds = to.map(ident).toSet; val fromIds = from.map(ident).toSet
    val onlyFrom = from.filterNot(r => toIds(ident(r)))
    val onlyTo = to.filterNot(r => fromIds(ident(r)))
    // BOTH sides present under vTo's column mapping: a diff is about
    // ROWS, the mapping is presentation — so a rename-only commit diffs
    // EMPTY (payload structs compare equal under one naming), and the
    // change feed always speaks the consumer's current schema
    val (cmPairs, cmDropped) = columnMapping(path, vTo)
    def frame(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      // mergeSchema: a side's own segments can straddle an additive
      // evolution; row volume is COW-bounded (changed segments only).
      // An empty side anchors on either endpoint's first segment, else
      // through history (both endpoints can be segment-less)
      applyColMap(readRows(spark, rows, mergeSchema = true)
        .getOrElse(emptyFrame(spark, path, vTo, from ++ to)),
        cmPairs, cmDropped)
    val fOld = frame(onlyFrom)
    val fNew = frame(onlyTo)
    // the two SIDES can also differ physically (a merge written after
    // a column drop that a later restore reverted, or one side predating
    // an additive evolution): align both to the union schema with typed
    // nulls so the payload structs compare field-for-field — a
    // physically-absent column and a null value are the same logical row
    val types = (fOld.schema.fields ++ fNew.schema.fields)
      .map(f => f.name -> f.dataType).toMap
    val all = (fOld.columns ++
      fNew.columns.filterNot(fOld.columns.contains)).toSeq
    def side(df: DataFrame, tag: String): DataFrame = {
      val a = df.select(all.map(c =>
        if (df.columns.contains(c)) col(c)
        else lit(null).cast(types(c)).as(c)): _*)
      val payload = all.filterNot(_ == keyCol)
      a.select(col(keyCol),
        struct(payload.map(col): _*).as(s"_$tag"))
    }
    side(fOld, "old").join(side(fNew, "new").hint("shuffle_hash"),
        Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("_old").isNull, lit("insert"))
          .when(col("_new").isNull, lit("delete"))
          .otherwise(lit("update")))
      // survivors carried through a rewrite: present on both sides
      // with identical payloads — not a change
      .filter(!(col("change") === "update" && col("_old") <=> col("_new")))
  }

  private def cursorFile(path: String, name: String) = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"follower names are [A-Za-z0-9_]+, got '$name'")
    new Path(logDir(path), s"cursor-$name")
  }

  /** The named follower's durable cursor — the last version it has
    * fully consumed — or None for a follower that has never run. */
  def cursorVersion(path: String, name: String): Option[Int] = {
    val f = cursorFile(path, name)
    val fs = fsOf(f)
    if (!fs.exists(f)) None
    else scala.util.Try(readSmall(fs, f).trim.toInt).toOption
  }

  /** CHANGE-FEED FOLLOWER — the Delta `readStream` shape over this
    * log: a named consumer that DISCOVERS new commits itself instead
    * of being handed version numbers. Each call reads the follower's
    * durable cursor (`_log/cursor-<name>`; a brand-new follower starts
    * at `startAt`, default v0 — the version it bootstrapped its own
    * state from), and for every committed version it has not yet
    * consumed delivers that version's [[diff]] against its parent to
    * `fn` along with the version number, advancing the cursor AFTER
    * each delivery returns. Delivery is therefore AT-LEAST-ONCE per
    * version: a crash between `fn` and the cursor advance re-delivers
    * that one version on the next poll — consumers apply idempotently
    * ([[merge]] already is: re-applying a change set yields the same
    * table state). Versions are delivered strictly in order, one
    * diff per commit, so a downstream [[merge]]-per-feed consumer
    * converges to exactly the state an explicit `diff(v0, latest)`
    * consumer reaches. Poll cost when idle is one cursor read + one
    * [[latestVersion]] call; per delivered version it is the diff's
    * cost — the commit's size, never the table's. Returns the number
    * of versions delivered (0 = already caught up: the replay guard).
    *
    * Reference analog: the reference DB layer re-imports each
    * project's results on every run cycle (ram-analysis/app/index.js
    * re-import loop); this is that cycle with a durable cursor, so a
    * follower pays each commit once instead of a rescan per cycle. */
  def followDiff(spark: SparkSession, path: String, keyCol: String,
                 name: String, startAt: Int = 0,
                 maxVersions: Int = Int.MaxValue)(
      fn: (DataFrame, Int) => Unit): Int = {
    require(maxVersions >= 1, s"maxVersions must be >= 1, got $maxVersions")
    val latest = latestVersion(path).getOrElse(
      sys.error(s"follow of non-existent table $path"))
    val from = cursorVersion(path, name).getOrElse(startAt)
    var delivered = 0
    var processed = 0
    var v = from + 1
    // ADMISSION CONTROL (Delta's maxFilesPerTrigger): a poll consumes
    // at most `maxVersions` commits — a follower resuming after a long
    // outage catches up over several bounded polls instead of
    // replaying the whole backlog into one giant micro-batch; the
    // cursor advances per consumed version, so progress is durable
    // across the partial polls
    while (v <= latest && processed < maxVersions) {
      processed += 1
      // rewrite-only commits (compaction) change no logical row: skip
      // the delivery ENTIRELY rather than paying a full-table diff to
      // prove emptiness — at 100 TB, OPTIMIZE must be free for every
      // follower (Delta's dataChange=false contract)
      if (!isRewriteOnly(path, v)) {
        fn(diff(spark, path, v - 1, v, keyCol), v)
        delivered += 1
      }
      writeSmall(cursorFile(path, name), v.toString)
      v += 1
    }
    delivered
  }

  /** CONTINUOUS follower: a Structured Streaming query that polls the
    * log once per micro-batch of the caller-supplied `ticks` stream (a
    * rate source in production, a MemoryStream in tests) and delivers
    * each newly committed version's diff through [[followDiff]] — the
    * tick stream only SCHEDULES polls; discovery, ordering and the
    * durable cursor live in the table's own log, so the follower
    * resumes mid-history after any restart and converges no matter how
    * commits interleave with micro-batches (spec-pinned: three commits
    * landing across separate batches reach the same downstream state
    * as one explicit diff). */
  def followStream(ticks: DataFrame, path: String, keyCol: String,
                   name: String, startAt: Int = 0,
                   maxVersionsPerPoll: Int = Int.MaxValue)(
      fn: (DataFrame, Int) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    ticks.writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        followDiff(b.sparkSession, path, keyCol, name, startAt,
          maxVersionsPerPoll)(fn)
        ()
      }
      .start()

  /** STATS-PRUNED RANGE READ — the data-skipping read path every
    * lakehouse sells: a key-range query consults the manifest's
    * per-segment [min_key, max_key] BEFORE touching data, scans only
    * the segments whose range overlaps [lo, hi], and pushes the key
    * predicate into the parquet scan of those. The manifest is
    * segment-count-sized driver state (the one collect this format
    * ever does); a range query against a 100 TB table reads the
    * overlapping segments only. Returns (rows, segments scanned,
    * segments total) — the skip ratio is part of the result so a
    * pruning regression is observable, not silent. */
  def readRange(spark: SparkSession, path: String, keyCol: String,
                lo: Long, hi: Long,
                version: Option[Int] = None): (DataFrame, Int, Int) =
    readProbe(spark, path, keyCol, lo, hi, Nil, version)

  /** Version history: one row per committed version still on disk
    * (a [[gc]]-expired version drops out of the history, as it should —
    * its manifest no longer exists). ONE Spark job no matter the
    * version count: every surviving manifest is read in a single
    * parquet scan and the version number recovered from each row's
    * own manifest file path — a 10k-commit table pays one job, not
    * 10k sequential agg jobs. */
  def history(spark: SparkSession, path: String): DataFrame = {
    val latest = latestVersion(path).getOrElse(
      sys.error(s"no committed version at $path"))
    val fs = fsOf(new Path(path))
    val versions = (0 to latest)
      .filter(v => fs.exists(new Path(manifestDir(path, v))))
    // mergeSchema: manifests before and after the first [[mergeDv]] /
    // [[compactZOrder]] differ in their optional columns; n_rows is
    // LOGICAL (physical minus tombstoned) so history never overcounts
    // a deletion-vector table
    val m0 = spark.read.option("mergeSchema", "true")
      .parquet(versions.map(manifestDir(path, _)): _*)
    val live =
      if (m0.columns.contains("dv_rows"))
        col("n_rows") - coalesce(col("dv_rows"), lit(0L))
      else col("n_rows")
    val agg = m0
      .withColumn("version",
        regexp_extract(input_file_name(), "/v(\\d{5,})/[^/]*$", 1)
          .cast("int"))
      .groupBy(col("version"))
      .agg(count(lit(1)).as("n_segments"), sum(live).as("n_rows"))
    import spark.implicits._
    // left join, not the agg alone: a delete-everything merge commits a
    // SEGMENT-LESS manifest (zero rows) whose version must still appear
    // in the history as (v, 0, null)
    versions.toDF("version")
      .join(broadcast(agg), Seq("version"), "left_outer")
      .select(col("version"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        col("n_rows"))
      .orderBy(col("version"))
  }
}
