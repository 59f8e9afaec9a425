package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Pins

/** Shared-storage registry for FIT-ONCE model artifacts (PQ codebooks,
  * PCA eigenvectors, kNN graphs): a configurable root written and read
  * through the Hadoop FileSystem API, so the same code serves local
  * tmpdir in tests and `hdfs://` / `s3a://` roots on a cluster — the
  * r11 verdict's gap #1 was `java.io.tmpdir` paths that only the
  * driver could see.
  *
  * Root resolution: `spark.graft.modelRoot` if set (any Hadoop scheme),
  * else `file:<java.io.tmpdir>/graft_models` (local-mode default;
  * multi-user deployments should set the conf to a per-team root).
  *
  * Staleness (the r11 ADVICE medium): artifact keys must include
  * [[corpusFingerprint]] — an MD5 over the source table's sorted
  * (absolute path, length, mtime) file listing — so regenerating the
  * data at the same path changes the key and the stale artifact is
  * simply never addressed again. The listing is driver-side and
  * manifest-sized (same class as SnapshotLog's manifest reads), one
  * Hadoop `listFiles` call per fit-once query.
  */
object ModelStore {

  /** The artifact root as a Hadoop path string. */
  def root(spark: SparkSession): String =
    spark.conf.getOption("spark.graft.modelRoot").getOrElse(
      "file:" + java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"), "graft_models").toString)

  /** Content/version fingerprint of a source table directory: MD5 of
    * the recursive (path, length, modification time) listing — sorted,
    * suffixed with the file COUNT and a content ANCHOR (MD5 of the
    * first 4 KiB of the lexicographically first file). Any rewrite of
    * the data — new files, different sizes, touched mtimes, or an
    * in-place byte rewrite that preserves all three within the
    * filesystem's mtime granule — yields a new fingerprint;
    * byte-identical re-listing yields the same one, so warm calls
    * still hit.
    *
    * Assumption: Spark-written corpora (UUID part file names) always
    * change the listing on rewrite, so (path, length, mtime) alone
    * suffices there; the anchor exists for EXTERNALLY-managed tables
    * whose writers reuse file names — it catches a first-block rewrite
    * but not a tail-only one, which is the accepted cost of keeping
    * the fingerprint one driver-side listing + one 4 KiB read. */
  def corpusFingerprint(spark: SparkSession, tablePath: String): String = {
    val p = new org.apache.hadoop.fs.Path(tablePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.ArrayBuffer
      .empty[(String, org.apache.hadoop.fs.Path)]
    while (it.hasNext) {
      val s = it.next()
      entries += ((s"${s.getPath.toUri.getPath}|${s.getLen}|${s.getModificationTime}",
        s.getPath))
    }
    val sorted = entries.sortBy(_._1)
    val anchor = sorted.headOption.map { case (_, fp) =>
      val in = fs.open(fp)
      try {
        val buf = new Array[Byte](4096)
        var off = 0; var n = 0
        while (off < buf.length && { n = in.read(buf, off, buf.length - off); n > 0 })
          off += n
        java.security.MessageDigest.getInstance("MD5")
          .digest(buf.take(off)).map("%02x".format(_)).mkString
      } finally in.close()
    }.getOrElse("empty")
    md5((sorted.map(_._1) :+ s"n=${sorted.size}" :+ s"anchor=$anchor")
      .mkString("\n"))
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Absolute artifact path for a keyed model name. */
  def artifactPath(spark: SparkSession, name: String): String =
    s"${root(spark)}/$name"

  /** Commit-marker existence through the Hadoop FS (NOT java.nio — the
    * root may be any scheme). */
  def isFitted(spark: SparkSession, name: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(
      artifactPath(spark, name), "_SUCCESS")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(marker)
  }

  /** Fit-once: if `<root>/<name>/_SUCCESS` exists, read the artifact;
    * otherwise run `fit`, persist it, and read it back. The fit block
    * owns its own output partitioning (dims/codebook frames coalesce
    * to 1; an n·k kNN edge list stays distributed). Reading back even
    * on the cold path means cold and warm calls consume byte-identical
    * parquet — the artifact is an execution shortcut, never a semantic
    * input.
    *
    * ATOMIC PUBLISH (SnapshotLog's manifest-last discipline): the cold
    * path writes to `<path>.__tmp-<uuid>` and Hadoop-renames into
    * place, so a reader can never observe a half-written artifact
    * under a valid `_SUCCESS`, and a crash mid-fit leaves only a temp
    * dir that the next caller ignores (a committed-artifact dir either
    * exists completely or not at all). A partial TARGET dir without
    * `_SUCCESS` (a crashed pre-atomic publish, or a listing race) is
    * deleted before the rename — the store self-heals. Two concurrent
    * cold callers both fit; the loser's rename is skipped or fails
    * (target occupied by the winner), it deletes its temp dir and
    * reads the winner.
    *
    * The check-then-act pairs below are NOT atomic — a winner can
    * commit between any check and the action it guards. The self-heal
    * delete therefore re-checks `_SUCCESS` immediately before firing
    * (it must never destroy a just-committed artifact), and the
    * residual hazard is confined to: a loser may briefly leave NO
    * artifact on disk between deleting a genuine crashed partial and
    * completing its own rename. Readers go through `getOrFit`, which
    * re-fits on a missing marker, and fits are deterministic — so
    * every interleaving converges to the same bytes; what is NOT
    * guaranteed is that an artifact dir, once visible, is visible
    * forever to out-of-band readers that bypass this method. */
  def getOrFit(spark: SparkSession, name: String)
              (fit: => DataFrame): DataFrame = {
    val path = artifactPath(spark, name)
    if (!isFitted(spark, name)) {
      val target = new org.apache.hadoop.fs.Path(path)
      val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$path.__tmp-${java.util.UUID.randomUUID()}")
      // the fit's pins end with the write: the artifact is read back
      Pins.scope { _ => fit.write.mode("overwrite").parquet(tmp.toString) }
      if (isFitted(spark, name)) {
        // a concurrent fitter published while we were fitting: keep the
        // winner, discard our run
        fs.delete(tmp, true)
      } else {
        // self-heal: a target without _SUCCESS is a crashed partial.
        // Re-check the marker at the last instant — a winner may have
        // committed since the isFitted() above, and deleting ITS dir
        // would un-publish a valid artifact (TOCTOU guard; see doc)
        if (fs.exists(target) && !isFitted(spark, name))
          fs.delete(target, true)
        // rename-into-existing-dir NESTS on posix-style filesystems, so
        // treat a target that (re)appeared as a lost race, never rename
        // over it
        if (fs.exists(target) || !fs.rename(tmp, target)) {
          fs.delete(tmp, true)
          require(isFitted(spark, name),
            s"ModelStore publish failed for $name: rename rejected and no winner present")
        }
      }
    }
    ParquetFooter.read(spark, Seq(path))
  }
}
