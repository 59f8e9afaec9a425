package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One call into a layer, or one pass (`parent` -1). Times are epoch ms.
  * `kind` says which latency a call is a sample of: commit, read, or
  * other for neither; `root` is the directory the call
  * writes under, `files` that directory's listing after the call and
  * `logical` the bytes of the rows the call was handed or wrote, so
  * write amplification can be accounted from the run's record. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val kind: String, val pass: Int) {
  var start = 0.0
  var end = 0.0
  var ok = true
  var error = ""
  var pinnedBytes = 0L
  var root = ""
  var files: Map[String, Long] = Map.empty
  var logical = 0L
  var amp = true
}

/** Jobs and task totals, attributed to the span whose id the submitting
  * thread carried as a local property. Callbacks run on the single bus
  * thread. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val span: Int, val start: Long) {
    var end = -1L
    var cpuNs = 0L
    var shuffleReadBytes = 0L
  }
  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Recorder.SpanProp))).map(_.toInt).getOrElse(-1)
    val j = new Job(e.jobId, span, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.end = e.time)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
}

/** Spans kept in memory and written out when the run ends. A traced
  * pass also attaches a [[JobListener]] and samples the storage memory
  * pinned around each call; an untraced pass only takes the clock. */
final class Recorder(spark: SparkSession, val runId: String) {
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  val jobs = mutable.ArrayBuffer[Map[String, Any]]()
  val gcMs = mutable.Map[Int, Long]()
  val tracedPasses = mutable.Set[Int]()
  /** Time a pass spent listing directories and checking outputs; it is
    * taken off the pass's wall time, in traced and untraced passes. */
  val bookkeepingMs = mutable.Map[Int, Double]().withDefaultValue(0.0)
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  private var traced = false
  private var current: Span = null
  private val sc = spark.sparkContext

  private def gcTotalMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  private def storageBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def book[T](body: => T): T = {
    val t = nowMs
    val pass = if (current == null) -1 else current.pass
    try body finally bookkeepingMs(pass) += nowMs - t
  }

  def pass(idx: Int, trace: Boolean)(body: => Unit): Span = {
    val s = new Span(spans.size, "pass", -1, "pass", idx)
    spans += s
    traced = trace
    if (trace) tracedPasses += idx
    val listener = if (trace) new JobListener else null
    if (trace) sc.addSparkListener(listener)
    val gc0 = gcTotalMs
    current = s
    s.start = nowMs
    try body finally {
      s.end = nowMs
      current = null
      gcMs(idx) = gcTotalMs - gc0
      if (trace) {
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.removeSparkListener(listener)
        listener.jobs.values.foreach { j =>
          jobs += Map("id" -> j.id, "span" -> j.span, "start" -> j.start,
            "end" -> j.end, "cpu_ns" -> j.cpuNs,
            "shuffle_read_bytes" -> j.shuffleReadBytes)
        }
      }
      traced = false
    }
    s
  }

  /** Time one call into a layer. A call that throws is counted as a
    * failed operation and the pass goes on with the next call. */
  def call(name: String, kind: String, root: String = "",
           logical: => Long = 0L, amp: Boolean = true)(body: => Unit): Span = {
    val p = current
    val s = new Span(spans.size, name, p.id, kind, p.pass)
    spans += s
    attempted += 1
    val pinned0 = if (traced) storageBytes else 0L
    if (traced) sc.setLocalProperty(Recorder.SpanProp, s.id.toString)
    s.start = nowMs
    try body catch {
      case NonFatal(e) =>
        s.ok = false
        s.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        fail(s"$name (pass ${p.pass}): ${s.error}")
    }
    s.end = nowMs
    if (traced) {
      sc.setLocalProperty(Recorder.SpanProp, null)
      s.pinnedBytes = storageBytes - pinned0
    }
    if (root.nonEmpty) book {
      s.root = root
      s.files = Recorder.listing(new File(root))
      s.amp = amp
      if (s.ok) s.logical = logical
    }
    s
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  /** One correctness check made in the run, outside the timed calls. */
  def check(what: String)(ok: => Boolean): Unit = book {
    attempted += 1
    val good = try ok catch { case NonFatal(e) => false }
    if (!good) fail(s"check failed: $what")
  }

  def spanRecords: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "kind" -> s.kind, "pass" -> s.pass, "run" -> runId,
      "start" -> s.start, "end" -> s.end, "ok" -> s.ok, "error" -> s.error,
      "pinned_bytes" -> s.pinnedBytes, "root" -> s.root,
      "files" -> s.files, "logical_bytes" -> s.logical, "amp" -> s.amp)
  }
}

object Recorder {
  val SpanProp = "perfbench.span"

  /** Relative path -> size of every regular file under `dir`. */
  def listing(dir: File): Map[String, Long] = {
    val base = dir.toPath
    def walk(f: File): Seq[(String, Long)] =
      if (f.isFile) Seq(base.relativize(f.toPath).toString -> f.length())
      else Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    walk(dir).toMap
  }
}
