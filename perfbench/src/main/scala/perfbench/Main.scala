package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import graft.{GraftExtensions, GraftSession}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM half. It opens one local session, runs one
  * untimed warm-up pass of the named workload, then timed passes for
  * the given number of seconds, and writes the run's record (spans,
  * jobs, checks, fingerprint) as JSON for run.py to reduce.
  *
  * With `--trace 1` the timed passes alternate untraced and traced,
  * starting untraced, and at least one untraced pass follows a traced
  * one. The record holds both kinds, so the tracing overhead comes from
  * one process, against a pass at least as warm as the traced one.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR
  *   --seconds S --trace 0|1 --cpus N --run-id ID --out FILE */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val work = opt("work")
    val cpus = opt("cpus")
    val trace = opt("trace") == "1"
    val seconds = opt("seconds").toDouble
    val spark = GraftSession.configure(
        SparkSession.builder().master(s"local[$cpus]").appName("perfbench"),
        cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.modelRoot", new File(s"$work/models").toURI.toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val readyMs = System.currentTimeMillis()
    val rec = new Recorder(spark, opt("run-id"))
    val w: Workload = opt("workload") match {
      case "ram_project" => new RamProject(spark, opt("input"), work, rec)
      case "corpus_curation" => new CorpusCuration(spark, opt("input"), work, rec)
      case "table_churn" => new TableChurn(spark, opt("input"), work, rec)
      case other => sys.error(s"unknown workload $other")
    }
    val prep0 = rec.nowMs
    w.prepare()
    val prepareS = (rec.nowMs - prep0) / 1000

    val live = scala.collection.mutable.Map[Int, Long]()
    def runPass(i: Int, traced: Boolean): Span = {
      val s = rec.pass(i, traced)(w.pass(i))
      live(i) = w.liveBytes(i)
      w.cleanup(i)
      s
    }
    val warm = runPass(0, traced = false)
    val t0 = rec.nowMs
    var i = 1
    var last = 0.0
    var traced, untraced = 0
    def elapsed = (rec.nowMs - t0) / 1000
    while (i == 1 || elapsed + last <= seconds ||
           (trace && (traced == 0 || untraced < 2))) {
      val tr = trace && i % 2 == 0
      val s = runPass(i, tr)
      last = (s.end - s.start) / 1000
      if (tr) traced += 1 else untraced += 1
      i += 1
    }
    if (trace) w.finish()

    val passes = rec.spans.filter(_.name == "pass").map { s =>
      Map("idx" -> s.pass, "span" -> s.id, "warmup" -> (s.pass == 0),
        "traced" -> rec.tracedPasses(s.pass),
        "gc_ms" -> rec.gcMs(s.pass),
        "bookkeeping_ms" -> rec.bookkeepingMs(s.pass),
        "live_bytes" -> live(s.pass))
    }
    val rt = Runtime.getRuntime
    val fingerprint = Map(
      "cores" -> rt.availableProcessors(),
      "parallelism" -> spark.sparkContext.defaultParallelism,
      "heap_max_mb" -> rt.maxMemory() / (1L << 20),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getName).mkString(","),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    val record = Map(
      "workload" -> opt("workload"),
      "fingerprint" -> fingerprint,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "ready_ms" -> readyMs,
      "prepare_s" -> prepareS,
      "warmup_s" -> (warm.end - warm.start) / 1000,
      "passes" -> passes,
      "spans" -> rec.spanRecords,
      "jobs" -> rec.jobs,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "failures" -> rec.failures,
      "oracle" -> w.oracle.map { case (key, dirs) =>
        key -> Map("sql" -> graft.SparkEntry.oracleSql(key), "dirs" -> dirs)
      },
      "latency_per_pass" -> w.latencyPerPass,
      "counters" -> w.counters)
    Files.write(new File(opt("out")).toPath,
      Json.render(record).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** A workload drives the engine's public functions, one [[Recorder.call]]
  * per layer call. Each pass writes under its own fresh roots. */
abstract class Workload(spark: SparkSession, val in: String, work: String,
                        rec: Recorder) {
  /** Oracle checks for run.py: key in `SparkEntry.oracleSql` -> result
    * directories written by the passes. */
  val oracle = scala.collection.mutable.Map[String, Seq[String]]()
  val counters = scala.collection.mutable.Map[String, Double]()
  private val memo = scala.collection.mutable.Map[String, Long]()

  def prepare(): Unit = ()
  def pass(p: Int): Unit
  /** Whether a commit or read latency sample is a pass's calls of that
    * kind together (a batch job's results land when all its writes
    * have), rather than each call on its own. */
  def latencyPerPass: Boolean = true
  def finish(): Unit = ()

  /** Bytes of the live rows the pass left behind: by default the rows
    * its committing calls wrote. */
  def liveBytes(p: Int): Long =
    rec.spans.filter(s => s.pass == p && s.kind == "commit").map(_.logical).sum

  def out(p: Int, name: String): String = s"$work/out/p$p/$name"
  def checked(p: Int, key: String): String = {
    val d = s"$work/check/p$p/$key"
    oracle(key) = oracle.getOrElse(key, Seq.empty) :+ d
    d
  }
  def cleanup(p: Int): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new File(s"$work/out/p$p"))

  /** The timed action for a frame: the noop sink runs the whole plan and
    * consumes every output column, so no part of it can be pruned away
    * the way an aggregate-only `count()` lets Catalyst do. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Logical size of a frame's rows: UTF-8 bytes for strings, the type's
    * default width otherwise. Computed once per layer, untimed. */
  def logicalOnce(layer: String)(df: => DataFrame): Long =
    memo.getOrElseUpdate(layer, Workload.rowBytes(df))
}

object Workload {
  def rowBytes(df: DataFrame): Long = {
    val widths = df.schema.fields.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case StringType => coalesce(octet_length(c), lit(0))
        case BinaryType => coalesce(length(c), lit(0))
        case t => lit(t.defaultSize)
      }
    }
    val v = df.select(widths.reduce(_ + _).cast("long").as("b"))
      .agg(sum(col("b"))).collect().head.get(0)
    Option(v).map(_.asInstanceOf[Long]).getOrElse(0L)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}
