package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Pins
import graft.operators.{Similarity, TextAnalysis}

/** Training-data pipeline operators added in round 3: sequence packing,
  * repetition signals, domain-mixture resampling, k-means assignment. */
class PipelineOpsSpec extends AnyFunSuite {
  import TestSession._

  test("pack: offsets bounded, bins ordered, runs contiguous per source") {
    val budget = 128
    val p = TextAnalysis.pack(spark, sf).cache()
    try {
      assert(p.count() == Tables.documents(spark, sf).count())
      assert(p.filter(col("bin_offset") < 0 || col("bin_offset") >= budget).isEmpty)
      assert(p.filter(col("bin_last") < col("bin_first")).isEmpty)
      // reconstruct each doc's start from (bin_first, bin_offset) and
      // check each (source, shard) cell's layout is exactly head-to-tail
      val rows = p.select(col("source"), col("shard"), col("doc_id"),
          col("n_tokens"),
          (col("bin_first") * budget + col("bin_offset")).as("start"))
        .collect()
        .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2),
          r.getLong(3), r.getLong(4)))
        .groupBy(_._1)
      rows.foreach { case (_, ds) =>
        var expectStart = 0L
        ds.sortBy(_._2).foreach { case (_, _, n, start) =>
          assert(start == expectStart, s"gap or overlap at start=$start")
          expectStart += n
        }
      }
      // a doc spans bin boundaries iff its token run crosses a multiple
      // of the budget
      assert(p.filter(
        (col("bin_last") =!= floor((col("bin_first") * budget
          + col("bin_offset") + col("n_tokens") - 1) / budget)).cast("boolean")).isEmpty)
    } finally { p.unpersist() }
  }

  test("repetition: exact values on a planted degenerate doc") {
    import spark.implicits._
    // "a a a b": top word a x3, bigrams [a a, a a, a b] -> top bigram 2/3
    val d = Seq((1L, "a a a b"), (2L, "solo")).toDF("doc_id", "text")
    val rows = TextAnalysis.repetitionOf(d).orderBy(col("doc_id")).collect()
    val r = rows(0)
    assert(r.getAs[Int]("n_words") == 4)
    assert(r.getAs[Int]("top_word_n") == 3)
    assert(r.getAs[Int]("top_bigram_n") == 2)
    assert(r.getAs[Double]("dup_word_frac") == 0.5)
    assert(r.getAs[Double]("top_word_frac") == 0.75)
    assert(r.getAs[Double]("top_bigram_frac") == 0.6667)
    // a one-word doc stays in the result with zero bigram stats, no nulls
    val s = rows(1)
    assert(s.getAs[Int]("n_words") == 1 && s.getAs[Int]("top_bigram_n") == 0)
    assert(s.getAs[Double]("top_bigram_frac") == 0.0 &&
      s.getAs[Double]("dup_word_frac") == 0.0)
  }

  test("repetition: bounds hold corpus-wide and all-distinct docs score 0") {
    val r = TextAnalysis.repetition(spark, sf).cache()
    try {
      assert(r.filter(col("top_word_n") > col("n_words")).isEmpty)
      assert(r.filter(col("dup_word_frac") < 0 || col("dup_word_frac") > 1
        || col("top_word_frac") <= 0 || col("top_word_frac") > 1
        || col("top_bigram_frac") <= 0 || col("top_bigram_frac") > 1).isEmpty)
      // no repeated word implies no repeated bigram either
      assert(r.filter(col("dup_word_frac") === 0 && col("top_bigram_n") > 1).isEmpty)
    } finally { r.unpersist() }
  }

  test("domain mix: per-source counts hit the floor(weight x n) quota") {
    val docs = Tables.documents(spark, sf)
    val kept = TextAnalysis.domainMix(spark, sf)
      .groupBy(col("source")).agg(count(lit(1)).as("kept"))
    val expect = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("sid",
        regexp_extract(col("source"), "([0-9]+)", 1).cast("int"))
      .withColumn("w", when(col("sid") % 3 === 0, 0.25)
        .when(col("sid") % 3 === 1, 0.5).otherwise(0.75))
      .select(col("source"), floor(col("n") * col("w")).as("want"))
    assert(expect.join(kept, Seq("source"), "left_outer")
      .filter(coalesce(col("kept"), lit(0L)) =!= col("want")).isEmpty)
    // deterministic: two runs produce identical row sets
    val a = TextAnalysis.domainMix(spark, sf)
    val b = TextAnalysis.domainMix(spark, sf)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("temperature mix: quotas conserve the budget and upweight small sources") {
    val docs = Tables.documents(spark, sf)
    val total = docs.count()
    val perSource = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val out = TextAnalysis.temperatureMix(spark, sf)
    val kept = out.groupBy(col("source")).agg(count(lit(1)).as("kept"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // per-source kept == the exact integer quota; total <= budget
    val budget = total / 2
    val ws = perSource.view.mapValues(n => math.sqrt(n.toDouble).toLong).toMap
    val sw = ws.values.sum
    perSource.keys.foreach { s =>
      val want = budget * ws(s) / sw
      assert(kept.getOrElse(s, 0L) == want,
        s"$s kept ${kept.getOrElse(s, 0L)} want $want")
    }
    assert(kept.values.sum <= budget)
    // the temperature property: every source's kept SHARE is at least
    // its proportional-share counterpart iff it is below average size
    // (alpha < 1 compresses the size spread) — verify the ordering of
    // shares matches the ordering of sqrt weights, not raw counts
    val shares = perSource.keys.toSeq.sortBy(ws)
      .map(s => kept.getOrElse(s, 0L))
    assert(shares == shares.sorted, "kept counts must order by isqrt weight")
    // rerun stability
    val again = TextAnalysis.temperatureMix(spark, sf)
    assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty)
  }

  test("kmeans: assignments cover all vectors and improve on round one") {
    import spark.implicits._
    val one = Similarity.kmeans(spark, sf, iters = 1).cache()
    val three = Similarity.kmeans(spark, sf, iters = 3).cache()
    try {
      val total = Tables.embeddings(spark, sf).count()
      assert(one.agg(sum(col("n"))).as[Long].head == total)
      assert(three.agg(sum(col("n"))).as[Long].head == total)
      assert(three.filter(col("cluster_id") % 29 =!= 0).isEmpty)
      assert(three.filter(col("avg_cos") < -1.0 || col("avg_cos") > 1.0001).isEmpty)
      // Lloyd updates should tighten clusters: corpus-wide mean
      // similarity to centroid does not get worse after two more rounds
      def meanCos(df: org.apache.spark.sql.DataFrame): Double =
        df.agg(sum(col("avg_cos") * col("n")) / sum(col("n"))).as[Double].head
      assert(meanCos(three) >= meanCos(one) - 1e-9)
    } finally { one.unpersist(); three.unpersist() }
  }

  test("media quarantine: planted damage rejected with typed reasons, rest pass") {
    import spark.implicits._
    val clean = operators.Multimodal.quarantine(
      operators.Multimodal.mediaTable(spark, sf)).cache()
    val dirty = operators.Multimodal.quarantine(
      operators.Multimodal.corruptedMediaTable(spark, sf)).cache()
    try {
      assert(clean.filter(!col("ok")).isEmpty, "clean corpus fully parses")
      val total = Tables.documents(spark, sf).count()
      assert(dirty.count() == total, "one verdict per item, job never fails")
      // truncation (doc_id % 17 == 0) must always reject; the header
      // stomp (% 17 == 5) must reject PNG/WAV but survive on MP4 (it
      // only hits the ftyp brand) and JPEG (it only hits the APP0/JFIF
      // identifier bytes, which the length-driven segment walk skips)
      assert(dirty.filter(col("doc_id") % 17 === 0 && col("ok")).isEmpty)
      assert(dirty.filter(col("doc_id") % 17 === 5 && col("ok") &&
        !col("kind").isin("video/mp4", "image/jpeg")).isEmpty)
      assert(dirty.filter(col("doc_id") % 17 === 5 && !col("ok") &&
        col("kind").isin("video/mp4", "image/jpeg")).isEmpty)
      // undamaged rows still parse, and every reject carries a reason
      assert(dirty.filter(col("doc_id") % 17 =!= 0 &&
        col("doc_id") % 17 =!= 5 && !col("ok")).isEmpty)
      assert(dirty.filter(!col("ok") && length(col("error")) === 0).isEmpty)
      // reasons are typed classes, not per-doc strings: few distinct
      assert(dirty.filter(!col("ok")).select(col("error")).distinct().count() <= 4)
    } finally { clean.unpersist(); dirty.unpersist() }
  }

  test("jsonl: round trip preserves rows, bad lines quarantine not fail") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val docs = Tables.documents(spark, sf)
    graft.sources.Jsonl.write(docs, s"$dir/docs")
    // plant a non-JSON line and a type-violating line in an extra shard
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/docs/part-99999.json"),
      java.util.Arrays.asList(
        "this is not json at all",
        """{"doc_id":"not_a_number","text":"x","lang":"en","source":"s","n_chars":1}"""))
    val split = graft.sources.Jsonl.readSplit(spark, s"$dir/docs",
      docs.schema)
    try {
      val (valid, bad) = (split.valid, split.quarantined)
      assert(valid.count() == docs.count())
      assert(valid.exceptAll(docs).isEmpty && docs.exceptAll(valid).isEmpty)
      assert(bad.count() == 2)
      assert(bad.filter(col("raw_line").contains("not json")).count() == 1)
    } finally { split.release() }
  }

  test("jsonl stream ingest: shards land valid/quarantined incrementally") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("jsonl-stream").toString
    val in = s"$base/in"; val vOut = s"$base/valid"; val qOut = s"$base/quar"
    new java.io.File(in).mkdirs()
    def shard(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
        scala.jdk.CollectionConverters.SeqHasAsJava(lines).asJava)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    shard("a.json", Seq("""{"doc_id":1,"text":"one"}""",
      """{"doc_id":2,"text":"two"}""", "garbage line"))
    val q = graft.sources.Jsonl.ingestStream(spark, in, schema, vOut, qOut)
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      // a second shard arrives mid-stream
      shard("b.json", Seq("""{"doc_id":3,"text":"three"}""",
        """{"doc_id":"NaN","text":"bad type"}"""))
      q.processAllAvailable()
      val valid = spark.read.parquet(vOut)
      val quar = spark.read.parquet(qOut)
      assert(valid.select(col("doc_id")).as[Long].collect().sorted
        .sameElements(Array(1L, 2L, 3L)))
      assert(quar.count() == 2)
    } finally { q.stop() }
  }

  test("incremental dedup: planted duplicates classified, corpus never matched against itself") {
    import spark.implicits._
    val inc = operators.Dedup.incremental(spark, sf).cache()
    try {
      val arriving = Tables.documents(spark, sf)
        .filter(col("doc_id") % 5 === 4)
      assert(inc.count() == arriving.count(), "one verdict per arriving doc")
      // every match points into the corpus, never at an arriving doc
      assert(inc.filter(col("match_doc") % 5 === 4).isEmpty)
      assert(inc.filter(col("verdict") === "unique" &&
        col("match_doc").isNotNull).isEmpty)
      assert(inc.filter(col("verdict") =!= "unique" &&
        col("match_doc").isNull).isEmpty)
      // cross-check the exact verdicts against a direct text equi-join
      val direct = arriving.select(col("doc_id"), col("text"))
        .join(Tables.documents(spark, sf)
          .filter(col("doc_id") % 5 =!= 4).select(col("text")).distinct(),
          Seq("text"), "left_semi")
        .select(col("doc_id")).as[Long].collect().toSet
      val flagged = inc.filter(col("verdict") === "exact_dup")
        .select(col("doc_id")).as[Long].collect().toSet
      assert(flagged == direct)
    } finally { inc.unpersist() }
  }

  test("incremental minhash: verdicts match exact search; corpus index is batch-independent") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val batch = docs.filter(col("doc_id") % 5 === 4)
    val out = operators.Dedup.incrementalMinhash(spark, sf).cache()
    try {
      assert(out.count() == batch.count(), "one verdict per arriving doc")
      // near-dup rung equals EXACT batch x corpus Jaccard search (the
      // oracle predicate): best match above tau, ties to lower id
      val sh = operators.Dedup.docsWithShingles(spark, sf)
        .select(col("doc_id"), array_distinct(col("shingles")).as("s"))
      val brute = sh.filter(col("doc_id") % 5 === 4)
        .select(col("doc_id"), col("s").as("sa"))
        .crossJoin(sh.filter(col("doc_id") % 5 =!= 4)
          .select(col("doc_id").as("cdoc"), col("s").as("sb")))
        .withColumn("j", round(
          size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))).cast("double"), 4))
        .filter(col("j") >= 0.8)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("j").desc, col("cdoc"))))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("cdoc"), col("j"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val near = out.filter(col("verdict") === "near_dup")
        .select(col("doc_id"), col("match_doc"), col("jaccard"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // every near_dup verdict is the true best match; docs whose brute
      // best match exists but verdicted exact/norm sit higher on the
      // ladder — verify the remainder is exactly the ladder overlap
      near.foreach { case (d, m) => assert(brute(d) == m, s"doc $d") }
      val higher = out.filter(col("verdict").isin("exact_dup", "norm_dup"))
        .select(col("doc_id")).as[Long].collect().toSet
      assert(brute.keySet -- near.keySet subsetOf higher,
        "a true near-dup can only be missing if a hash rung caught it")
      // batch-independence: classifying a batch SUBSET against the SAME
      // prebuilt index gives exactly the full run's verdicts for those
      // docs (corpus-side work cannot depend on what arrives)
      val index = operators.Dedup.corpusLshIndex(corpus)
      val subset = batch.filter(col("doc_id") % 2 === 0)
      val sub = operators.Dedup.classifyBatch(spark, sf, index, subset, 0.8)
        .collect().map(_.toSeq).toSet
      val fullFiltered = out.filter(col("doc_id") % 2 === 0)
        .collect().map(_.toSeq).toSet
      assert(sub == fullFiltered, "subset classification must equal full run")
    } finally { out.unpersist() }
  }

  test("incremental minhash as streaming ingest: micro-batches vs one batch") {
    // the production daily-ingest loop as an actual stream: arriving
    // doc ids flow through a MemoryStream, each micro-batch classifies
    // against the SAME frozen standing index via foreachBatch, and the
    // accumulated verdicts equal the one-shot batch run — delivery
    // batching cannot change any verdict
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val arrivingAll = docs.filter(col("doc_id") % 5 === 4)
    // the test owns the index pin; each micro-batch's own pins end with
    // its batch, as a streaming caller's should
    Pins.scope { s =>
      val index = s.pin(operators.Dedup.corpusLshIndex(corpus))
      val ids = arrivingAll.select(col("doc_id")).as[Long].collect().sorted
      val (b1, b2) = ids.splitAt(ids.length / 2)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[Long]
      val got = scala.collection.mutable.ArrayBuffer[Seq[Any]]()
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val q = ms.toDS().writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Long], _: Long) =>
          val arrived = docs.join(b.toDF("doc_id"), Seq("doc_id"), "left_semi")
          val verdicts = Pins.scope { _ =>
            operators.Dedup.classifyBatch(spark, sf, index, arrived, 0.8).collect()
          }
          got.synchronized { got ++= verdicts.map(_.toSeq) }
          ()
        }
        .start()
      try {
        ms.addData(b1.toIndexedSeq); q.processAllAvailable()
        ms.addData(b2.toIndexedSeq); q.processAllAvailable()
      } finally { q.stop() }
      assert(spark.sparkContext.getPersistentRDDs.keySet.toSet.subsetOf(before),
        "a micro-batch left pins behind")
      val full = operators.Dedup.incrementalMinhash(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(got.size == ids.length, "one verdict per arriving doc")
      assert(got.toSet == full,
        "streamed micro-batch verdicts must equal the one-shot batch run")
    }
  }

  test("curate funnel agrees with its component operators") {
    import spark.implicits._
    val out = TextAnalysis.curate(spark, sf).cache()
    try {
      assert(out.count() > 0, "funnel keeps something at sf0.001+")
      // every surviving doc individually passes each component filter,
      // recomputed via the standalone operators
      val q = TextAnalysis.quality(spark, sf).select(col("doc_id"), col("score"))
      val l = TextAnalysis.langid(spark, sf).select(col("doc_id"), col("pred_lang"))
      val r = TextAnalysis.repetition(spark, sf)
        .select(col("doc_id"), col("top_word_frac"))
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("lang"))
      val joined = out.select(col("doc_id"))
        .join(q, "doc_id").join(l, "doc_id").join(r, "doc_id").join(docs, "doc_id")
      assert(joined.filter(col("score") < 0.55 ||
        col("pred_lang") =!= col("lang") || col("top_word_frac") > 0.15).isEmpty)
      // survivors are exact-dup free
      val dupCheck = out.select(col("doc_id"))
        .join(Tables.documents(spark, sf), "doc_id")
        .groupBy(col("text")).count().filter(col("count") > 1)
      assert(dupCheck.isEmpty)
      // split values well-formed
      assert(out.filter(!col("split").isin("train", "valid", "test")).isEmpty)
    } finally { out.unpersist() }
  }

  test("filter funnel: monotone stages bracketed by raw counts and curate") {
    val out = TextAnalysis.filterFunnel(spark, sf).collect()
    val bySrc = out.groupBy(_.getString(2))
    val rawCounts = Tables.documents(spark, sf).groupBy(col("source"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.keySet == rawCounts.keySet, "one funnel per source")
    bySrc.foreach { case (src, rows) =>
      val byStage = rows.sortBy(_.getInt(0))
      assert(byStage.map(_.getInt(0)).toSeq == (0 until 5),
        s"$src has all five stages")
      assert(byStage.head.getLong(3) == rawCounts(src), s"$src raw count")
      assert(byStage.head.getDouble(4) == 1.0, s"$src raw retained_frac")
      // survival is monotone non-increasing through the gates
      byStage.sliding(2).foreach { case Array(a, b) =>
        assert(b.getLong(3) <= a.getLong(3),
          s"$src stage ${b.getInt(0)} grew")
      }
    }
    // the terminal stage equals the curate survivor set it audits
    val curateN = TextAnalysis.curate(spark, sf).count()
    assert(out.filter(_.getInt(0) == 4).map(_.getLong(3)).sum == curateN,
      "dedup-stage total equals curate's survivor count")
    // the funnel genuinely filters on this corpus (gates non-degenerate)
    assert(out.filter(_.getInt(0) == 4).map(_.getLong(3)).sum <
      out.filter(_.getInt(0) == 0).map(_.getLong(3)).sum)
  }

  test("cluster assign: total coverage, valid seeds, self-assignment") {
    val ca = Similarity.clusterAssign(spark, sf).cache()
    try {
      assert(ca.count() == Tables.embeddings(spark, sf).count())
      assert(ca.filter(col("cluster_id") % 29 =!= 0).isEmpty)
      assert(ca.filter(col("cos_sim") > 1.0001).isEmpty)
      // a seed's own cosine with itself is 1.0 — nothing beats it
      assert(ca.filter(col("vec_id") % 29 === 0 &&
        (col("cluster_id") =!= col("vec_id") || col("cos_sim") < 0.9999)).isEmpty)
    } finally { ca.unpersist() }
  }

  test("mad outliers: one row per doc, z standardized around the median, flags consistent") {
    val rows = TextAnalysis.madOutliers(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    // per source, about half the docs sit below the median: robust z
    // must be negative for ~half, positive for ~half
    rows.groupBy(_.getString(1)).foreach { case (src, rs) =>
      val neg = rs.count(_.getDouble(3) < 0)
      assert(neg > rs.length / 4 && neg < 3 * rs.length / 4,
        s"$src: $neg/${rs.length} below-median — median is off")
    }
    rows.foreach { r =>
      assert(r.getBoolean(4) == (math.abs(r.getDouble(3)) > 3.5) ||
        // rounding at the display edge only — recompute margin is 1e-4
        math.abs(math.abs(r.getDouble(3)) - 3.5) < 1e-3,
        s"flag disagrees with z at doc ${r.getLong(0)}")
    }
  }

  test("quality report: one row per source, totals reconcile with the per-doc ops") {
    val rows = TextAnalysis.qualityReport(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    assert(rows.length ==
      docs.select("source").distinct().count())
    assert(rows.map(_.getLong(1)).sum == docs.count(), "doc totals")
    // token total equals the text_quality n_words sum
    val qwords = TextAnalysis.quality(spark, sf)
      .agg(org.apache.spark.sql.functions.sum(col("n_words")))
      .head().getLong(0)
    assert(rows.map(_.getLong(2)).sum == qwords, "token totals")
    rows.foreach { r =>
      assert(r.getLong(3) >= 0 && r.getLong(3) < r.getLong(1))
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
      assert(r.getLong(6) <= r.getLong(1), "majority lang exceeds docs")
      assert(r.getDouble(7) > 0.0 && r.getDouble(7) <= 1.0)
    }
  }

  test("boilerplate: per-source repeated segments stripped, reassembly ordered") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def segsOf(text: String): Seq[String] =
      text.split(" ", -1).grouped(8).map(_.mkString(" ")).toSeq
    // truth: distinct-doc frequency per (source, segment)
    val freq = docs.flatMap { case (id, src, t) =>
      segsOf(t).distinct.map(s => (src, s, id))
    }.groupBy(x => (x._1, x._2)).map { case (k, v) => k -> v.length }
    val truth = docs.map { case (id, src, t) =>
      val segs = segsOf(t)
      val kept = segs.filter(s => freq((src, s)) < 2)
      id -> ((segs.length.toLong, (segs.length - kept.length).toLong,
        kept.mkString(" ")))
    }.toMap
    val got = operators.TextAnalysis.boilerplate(spark, sf).collect()
    assert(got.length == docs.length, "one row per doc")
    got.foreach { r =>
      val (nSeg, nBoiler, clean) = truth(r.getLong(0))
      assert(r.getLong(2) == nSeg && r.getLong(3) == nBoiler,
        s"doc ${r.getLong(0)}: seg counts diverge from in-memory truth")
      assert(r.getString(5) == clean,
        s"doc ${r.getLong(0)}: cleaned text diverges")
    }
    // the op must be non-degenerate on this corpus: planted duplicate
    // docs share all segments, so boilerplate exists
    assert(got.exists(_.getLong(3) > 0), "no boilerplate found at all")
    assert(got.exists(_.getLong(3) == 0), "everything flagged boilerplate")
  }

  test("ppl buckets: thresholds are exact terciles and assignment is by value") {
    val p = operators.TextAnalysis.perplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val out = operators.TextAnalysis.pplBuckets(spark, sf).collect()
    assert(out.length == p.size, "one bucket row per scored doc")
    // recompute the histogram thresholds in memory
    val n = p.size
    val sorted = p.values.toSeq.sorted
    def thr(mult: Int): Double = {
      val byVal = sorted.groupBy(identity).map { case (v, g) => (v, g.size) }
        .toSeq.sortBy(_._1)
      var cc = 0L
      byVal.collectFirst { case (v, c) if { cc += c; cc * 3 >= mult.toLong * n } => v }.get
    }
    val (t1, t2) = (thr(1), thr(2))
    out.foreach { r =>
      val nll = p(r.getLong(0))
      val want = if (nll <= t1) "head" else if (nll <= t2) "middle" else "tail"
      assert(r.getString(3) == want, s"doc ${r.getLong(0)} bucket")
      assert(r.getDouble(2) == nll)
    }
    // all three buckets are inhabited and sized within one value-tie of n/3
    val sizes = out.groupBy(_.getString(3)).map { case (b, g) => b -> g.size }
    assert(sizes.keySet == Set("head", "middle", "tail"))
    assert(sizes("head") >= n / 3, "head holds at least its tercile")
    // same value -> same bucket (a tie can never straddle a boundary)
    out.groupBy(_.getDouble(2)).values.foreach { g =>
      assert(g.map(_.getString(3)).distinct.length == 1)
    }
  }

  test("dataset card: sections reconcile with the e2e output exactly") {
    val e2e = TextAnalysis.llmE2e(spark, sf)
      .select(col("split"), col("source"), col("n_tokens")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val card = TextAnalysis.datasetCard(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val rawDocs = Tables.documents(spark, sf).count()
    val (kd, kt) = (e2e.length.toLong, e2e.map(_._3).sum)
    assert(card(("corpus", "raw"))._1 == rawDocs)
    assert(card(("corpus", "raw"))._3 == 1.0)
    assert(card(("corpus", "kept")) ==
      ((kd, kt, math.floor(kd.toDouble / rawDocs * 1e4 + 0.5) / 1e4)))
    assert(card(("corpus", "dropped"))._1 == rawDocs - kd)
    // raw token mass conserves: kept + dropped == raw
    assert(card(("corpus", "kept"))._2 + card(("corpus", "dropped"))._2 ==
      card(("corpus", "raw"))._2)
    // split and source sections partition the kept set
    for ((sec, keyOf) <- Seq(
        ("split", (t: (String, String, Long)) => t._1),
        ("source", (t: (String, String, Long)) => t._2))) {
      val want = e2e.groupBy(keyOf)
        .map { case (k, v) => k -> ((v.length.toLong, v.map(_._3).sum)) }
      val got = card.collect { case ((s, k), v) if s == sec => k -> v }
      assert(got.keySet == want.keySet, s"$sec keys")
      want.foreach { case (k, (nd, nt)) =>
        assert(got(k)._1 == nd && got(k)._2 == nt, s"$sec/$k")
        assert(got(k)._3 ==
          math.floor(nd.toDouble / kd * 1e4 + 0.5) / 1e4)
      }
      assert(want.values.map(_._1).sum == kd, s"$sec partitions kept")
    }
  }

  test("lang confusion: cells partition the corpus, diag equals langid recall") {
    val out = operators.TextAnalysis.langConfusion(spark, sf).collect()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.map(_.getLong(2)).sum == nDocs, "cells partition the corpus")
    // per declared language: totals match, shares sum to ~1 per row group
    out.groupBy(_.getString(0)).foreach { case (lang, cells) =>
      val tot = cells.map(_.getLong(2)).sum
      assert(cells.forall(_.getLong(3) == tot), s"$lang declared_total")
      cells.foreach { c =>
        assert(c.getDouble(4) == math.floor(
          c.getLong(2).toDouble / tot * 1e4 + 0.5) / 1e4)
        assert(c.getBoolean(5) == (c.getString(0) == c.getString(1)))
      }
    }
    // diag cells agree with a direct langid join
    val pred = operators.TextAnalysis.langid(spark, sf)
      .select(col("doc_id"), col("pred_lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val declared = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val wantCells = declared.groupBy { case (id, l) => (l, pred(id)) }
      .map { case (k, v) => k -> v.length.toLong }
    out.foreach { c =>
      assert(wantCells((c.getString(0), c.getString(1))) == c.getLong(2))
    }
    assert(out.length == wantCells.size, "no phantom cells")
  }

  test("sft render: template reassembly and loss spans match in memory") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = operators.TextAnalysis.sftRender(spark, sf).collect()
    val nPairs = docs.keys.count(id => id % 2 == 0 && docs.contains(id + 1))
    assert(out.length == nPairs, "one row per complete (even, odd) pair")
    out.foreach { r =>
      val pid = r.getLong(1); val rid = r.getLong(2)
      assert(pid % 2 == 0 && rid == pid + 1, "pairing is (2i, 2i+1)")
      val p = docs(pid); val resp = docs(rid)
      val rendered = s"<|user|> $p <|assistant|> $resp"
      val pw = p.split(" ", -1).length; val rw = resp.split(" ", -1).length
      assert(r.getLong(3) == pw.toLong && r.getLong(4) == rw.toLong)
      assert(r.getLong(5) == pw + rw + 2L, "total tokens")
      assert(r.getLong(6) == pw + 3L && r.getLong(7) == pw + rw + 2L,
        "loss span covers exactly the response tokens")
      // span length == response tokens: the mask trains on all of the
      // response and none of the prompt or markers
      assert(r.getLong(7) - r.getLong(6) + 1 == rw.toLong)
      assert(r.getLong(8) == rendered.length.toLong)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(rendered.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getString(9) == md, s"pair ${r.getLong(0)} digest")
    }
  }

  test("ngram novelty: agrees with an in-memory split recompute") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def splitOf(t: String): String = {
      val h = java.security.MessageDigest.getInstance("MD5").digest(
        t.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 2)
      if (h < "d0") "train" else if (h < "e8") "valid" else "test"
    }
    def bigrams(t: String): Set[String] =
      t.split(" ", -1).sliding(2).filter(_.length == 2)
        .map(_.mkString(" ")).toSet
    val trainSet = docs.filter(d => splitOf(d._2) == "train")
      .flatMap(d => bigrams(d._2)).toSet
    val valid = docs.filter(d => splitOf(d._2) == "valid").toMap
    val out = operators.TextAnalysis.ngramNovelty(spark, sf).collect()
    assert(out.nonEmpty && out.length == valid.size,
      "one row per valid-split doc")
    out.foreach { r =>
      val bs = bigrams(valid(r.getLong(0)))
      val seen = bs.count(trainSet.contains)
      assert(r.getLong(1) == bs.size.toLong, s"doc ${r.getLong(0)} types")
      assert(r.getLong(2) == seen.toLong, s"doc ${r.getLong(0)} seen")
      assert(r.getDouble(3) == math.floor(
        (bs.size - seen).toDouble / bs.size * 1e4 + 0.5) / 1e4)
    }
    // the probe is informative on this corpus: some bigrams are novel
    // somewhere, and most are covered (31-word vocab -> dense coverage)
    assert(out.exists(_.getLong(2) > 0))
  }

  test("perplexity: matches the in-memory smoothed bigram model exactly") {
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val bigrams = texts.flatMap(t => t._2.zip(t._2.tail))
    val cb = bigrams.groupBy(identity).map { case (k, v) => k -> v.length }
    val cu = bigrams.groupBy(_._1).map { case (k, v) => k -> v.length }
    val vsz = texts.flatMap(_._2).distinct.length.toDouble
    val got = operators.TextAnalysis.perplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    texts.foreach { case (id, ws) =>
      val bs = ws.zip(ws.tail)
      val nll = bs.map { b =>
        -math.log((cb(b) + 0.5) / (cu(b._1) + 0.5 * vsz))
      }.sum / bs.length
      val (n, gotNll) = got(id)
      assert(n == bs.length, s"doc $id bigram count")
      assert(math.abs(gotNll -
        BigDecimal(nll).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble) < 5e-5, s"doc $id nll $gotNll vs $nll")
    }
    // order sensitivity: the model is conditional, not bag-of-words —
    // corpus-wide nll must be positive and finite
    assert(got.values.forall(v => v._2 > 0 && !v._2.isNaN))
  }

  test("text drift: zero on identical slices, planted term tops the movers") {
    import spark.implicits._
    // identical even/odd slices: every delta is exactly zero
    val same = (0L until 20L).map(i => (i, "alpha beta gamma"))
      .toDF("doc_id", "text")
    TextAnalysis.textDriftOf(same).collect()
      .foreach(r => assert(r.getAs[Double]("delta") == 0.0))
    // plant a term that only the candidate (odd) slice carries: it must
    // be the top mover, with c_ref = 0
    val planted = (0L until 20L).map { i =>
      (i, if (i % 2 == 1) "alpha beta zzznew" else "alpha beta gamma")
    }.toDF("doc_id", "text")
    val top = TextAnalysis.textDriftOf(planted).collect()
    val movers = top.filter(r => r.getAs[Double]("delta") > 0)
      .map(_.getAs[String]("term")).toSet
    assert(movers == Set("zzznew", "gamma"),
      s"expected the swapped terms to be the movers, got $movers")
    val first = top.minBy(_.getAs[Int]("rk"))
    assert(first.getAs[Long]("c_ref") == 0 ||
      first.getAs[Long]("c_cand") == 0)
    // frequencies are per-slice ratios: each column sums to ~1 over the
    // full vocabulary, so the reported top-20 slice never exceeds 1
    assert(top.map(_.getAs[Double]("p_ref")).sum <= 1.0 + 1e-9)
    // real corpus: exactly topN rows, ranks dense, deltas non-increasing
    val real = TextAnalysis.textDrift(spark, sf).collect()
    assert(real.length == 20)
    assert(real.map(_.getAs[Int]("rk")).toSeq == (1 to 20))
    val ds = real.sortBy(_.getAs[Int]("rk")).map(_.getAs[Double]("delta"))
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b })
  }

  test("lm heldout: train-only statistics match an in-memory recompute") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def splitOf(t: String): String = {
      val b = md5hex(t).substring(0, 2)
      if (b < "d0") "train" else if (b < "e8") "valid" else "test"
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), splitOf(r.getString(1)),
        r.getString(1).split(" ", -1).toSeq))
    val trainBi = docs.filter(_._2 == "train")
      .flatMap(t => t._3.zip(t._3.tail))
    val cb = trainBi.groupBy(identity).map { case (k, v) => k -> v.length }
    val cu = trainBi.groupBy(_._1).map { case (k, v) => k -> v.length }
    val vsz = docs.filter(_._2 == "train").flatMap(_._3)
      .distinct.length.toDouble
    val got = TextAnalysis.lmHeldout(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getDouble(3)))).toMap
    val eval = docs.filter(_._2 != "train")
    // exactly the held-out docs are scored — a train doc leaking into
    // the output (or an eval doc vanishing) is the bug class here
    assert(got.keySet == eval.map(_._1).toSet)
    eval.foreach { case (id, sp, ws) =>
      val bs = ws.zip(ws.tail)
      val nll = bs.map { bg =>
        -math.log((cb.getOrElse(bg, 0) + 0.5)
          / (cu.getOrElse(bg._1, 0) + 0.5 * vsz))
      }.sum / bs.length
      val (gotSp, n, gotNll) = got(id)
      assert(gotSp == sp && n == bs.length, s"doc $id")
      assert(math.abs(gotNll - nll) < 5e-4, s"doc $id nll $gotNll vs $nll")
    }
    // memorization gap: scoring by a model that never saw the doc must
    // be harder on average than self-perplexity (which includes it)
    val self = TextAnalysis.perplexity(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val gaps = eval.map(e => got(e._1)._3 - self(e._1))
    assert(gaps.sum / gaps.size > 0,
      s"mean held-out minus self nll = ${gaps.sum / gaps.size}")
  }

  test("llm e2e: curate subset, only train dropped, packing arithmetic exact") {
    val e2e = TextAnalysis.llmE2e(spark, sf).collect()
    val cur = TextAnalysis.curate(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getString(4)))).toMap
    assert(e2e.nonEmpty)
    // stage-1 agreement: every e2e row is a curate survivor with the
    // same score and split (the funnel kernels cannot drift)
    e2e.foreach { r =>
      val id = r.getLong(0)
      assert(cur.contains(id), s"$id not a curate survivor")
      val (score, split) = cur(id)
      assert(r.getString(1) == split && r.getDouble(4) == score, s"$id")
    }
    // stage-2 agreement: decontamination may drop TRAIN docs only —
    // valid/test survivors always flow through to packing
    val kept = e2e.map(_.getLong(0)).toSet
    (cur.keySet -- kept).foreach(id =>
      assert(cur(id)._2 == "train", s"non-train doc $id dropped"))
    // stage-3 arithmetic: recompute the running-sum packing per
    // (split, source, shard) cell from the result's own token counts
    e2e.groupBy(r => (r.getString(1), r.getString(2), r.getLong(3)))
      .foreach { case (cell, rs) =>
        var tok = 0L
        rs.sortBy(_.getLong(0)).foreach { r =>
          val n = r.getLong(5)
          assert(r.getLong(6) == tok % 128, s"$cell offset")
          assert(r.getLong(7) == tok / 128, s"$cell bin_first")
          assert(r.getLong(8) == (tok + n - 1) / 128, s"$cell bin_last")
          tok += n
        }
      }
  }

  test("classifier train: discriminative, both classes, run-to-run exact") {
    // sf0.01: the corpus where the discrimination margin is measured
    // (the sf0.001 sample is too small for the 4-step trajectory to
    // clear the majority vote — hash parity still holds there)
    val dir = "/root/testdata/sf0.01"
    val rows = TextAnalysis.classifierTrain(spark, dir).collect()
    assert(rows.nonEmpty)
    // the trained boundary must beat the majority vote — the failure
    // mode this spec exists for is a degenerate trajectory (diverged
    // sum-gradient or unbalanced labels) that puts every doc on one side
    val n = rows.length.toDouble
    val base = math.max(rows.count(_.getInt(1) == 1),
      rows.count(_.getInt(1) == 0)) / n
    val acc = rows.count(r => (r.getDouble(2) > 0) == (r.getInt(1) == 1)) / n
    assert(acc > base + 0.05, s"acc $acc vs majority $base")
    assert(rows.exists(_.getBoolean(3)) && rows.exists(!_.getBoolean(3)),
      "both verdict classes must appear")
    // keep agrees with the logit column it is derived from
    rows.foreach(r => assert(r.getBoolean(3) == (r.getDouble(2) > 0)
      || r.getDouble(2) == 0.0))
    // the dyadic-grid integer-sum discipline makes the whole gradient
    // trajectory reproducible bit-for-bit across runs
    val again = TextAnalysis.classifierTrain(spark, dir).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // ... and across PARTITIONINGS: r10's driver ran a different
    // parallelism than the builder and flipped a float-cast boundary;
    // an integer sum cannot care about summation order, so training
    // under a different shuffle width must be bitwise identical
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val alt = TextAnalysis.classifierTrain(spark, dir).collect()
      assert(rows.map(_.toSeq).toSeq == alt.map(_.toSeq).toSeq,
        "training trajectory drifted across shuffle partitionings")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("kn perplexity: in-memory recompute agrees, continuation counts drive the backoff") {
    import TestSession.spark.implicits._
    // in-memory interpolated KN over any corpus
    def knNll(texts: Seq[(Long, String)], d: Double = 0.75)
        : Map[Long, Double] = {
      val bgs = texts.flatMap { case (id, t) =>
        t.split(" ").sliding(2).filter(_.length == 2)
          .map(p => (id, p(0), p(1))).toSeq }
      val cb = bgs.groupBy(x => (x._2, x._3)).map { case (k, v) => k -> v.size }
      val cu = bgs.groupBy(_._2).map { case (k, v) => k -> v.size }
      val types = cb.keySet
      val n1f = types.groupBy(_._1).map { case (k, v) => k -> v.size }
      val n1b = types.groupBy(_._2).map { case (k, v) => k -> v.size }
      val tt = types.size.toDouble
      bgs.groupBy(_._1).map { case (id, xs) =>
        val nll = xs.map { case (_, w1, w2) =>
          val p = math.max(cb((w1, w2)) - d, 0.0) / cu(w1) +
            d * n1f(w1) / cu(w1) * (n1b(w2) / tt)
          -math.log(p)
        }.sum / xs.size
        id -> math.floor(nll * 1e4 + 0.5) / 1e4
      }
    }
    // real corpus: operator equals the recompute (dyadic grid keeps
    // them within one 1e-4 step of the plain-double fold)
    val real = TextAnalysis.knPerplexity(spark, "/root/testdata/sf0.001")
      .collect()
    val texts = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val want = knNll(texts)
    real.foreach { r =>
      assert(math.abs(r.getDouble(2) - want(r.getLong(0))) <= 2e-4,
        s"doc ${r.getLong(0)}: ${r.getDouble(2)} vs ${want(r.getLong(0))}")
    }
    // the Francisco effect: 'rare' follows ONLY 'san' (frequent pair,
    // one context) while 'versatile' follows many contexts with the
    // same total frequency — a doc using 'versatile' in a NEW context
    // must score cheaper than one using 'rare' in a new context,
    // because continuation counts (not raw frequency) set the backoff
    val corpus = Seq(
      (1L, "san rare san rare san rare san rare"),
      (2L, "aa versatile bb versatile cc versatile dd versatile"),
      (3L, "xx rare yy zz"),      // 'rare' after an unseen-for-it context
      (4L, "xx versatile yy zz")) // 'versatile' after the same context
    val kn = TextAnalysis.knPerplexityOf(corpus.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kn(4L) < kn(3L),
      s"versatile-in-new-context ${kn(4L)} must beat rare ${kn(3L)}")
  }

  test("word-count ladders: no word-keyed window exchange; Zipf fixture bitwise") {
    import TestSession.spark.implicits._
    // plan audit (the r11 verdict's text_kn_perplexity ask): the n-gram
    // LM family must carry its counts as partial-agg frames met through
    // vocab-keyed hash joins — a window partitioned by a word key ships
    // every occurrence of a hot token to ONE partition with no map-side
    // combine, the one-straggler failure on a Zipfian corpus. No Window
    // operator may appear anywhere in these plans.
    Seq("text_kn_perplexity" -> TextAnalysis.knPerplexity(spark, sf),
      "text_perplexity" -> TextAnalysis.perplexity(spark, sf),
      "text_xentropy" -> TextAnalysis.xentropy(spark, sf),
      "text_lm_heldout" -> TextAnalysis.lmHeldout(spark, sf))
      .foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(!plan.contains("Window"),
          s"$name plans a window exchange:\n$plan")
      }
    // tfidf keeps exactly one window and it is DOC-keyed (bounded by a
    // document's own length) — the term side must be join-fed
    val tfLines = TextAnalysis.tfidf(spark, sf).queryExecution
      .executedPlan.toString.linesIterator
      .filter(_.contains("Window")).toSeq
    assert(tfLines.nonEmpty && tfLines.forall(_.contains("doc_id")),
      s"tfidf window must be doc-keyed only: $tfLines")
    // Zipf-skewed fixture: 'the' carries half the bigram mass (every
    // other token), exactly the skew the window plan strangled on. The
    // operator must still be BITWISE equal to the dyadic in-memory
    // recompute on any partitioning.
    val tail = (0 until 25).map(i => s"w$i")
    val zipf = (0L until 40L).map { d =>
      val ws = (0 until 24).map { j =>
        if (j % 2 == 0) "the" else tail(((d * 7 + j) % 25).toInt)
      }
      (d, ws.mkString(" "))
    }
    val got = TextAnalysis.knPerplexityOf(zipf.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    val bgs = zipf.flatMap { case (id, t) =>
      t.split(" ").sliding(2).map(p => (id, p(0), p(1))).toSeq }
    val cb = bgs.groupBy(x => (x._2, x._3)).map { case (k, v) => k -> v.size }
    val cu = bgs.groupBy(_._2).map { case (k, v) => k -> v.size }
    val types = cb.keySet
    val n1f = types.groupBy(_._1).map { case (k, v) => k -> v.size }
    val n1b = types.groupBy(_._2).map { case (k, v) => k -> v.size }
    val tt = types.size.toDouble
    val q = 16777216.0
    bgs.groupBy(_._1).foreach { case (id, xs) =>
      val s = xs.map { case (_, w1, w2) =>
        val p = math.max(cb((w1, w2)) - 0.75, 0.0) / cu(w1) +
          0.75 * n1f(w1) / cu(w1) * (n1b(w2) / tt)
        math.floor(-math.log(p) * q + 0.5).toLong
      }.sum
      val want = math.floor(s.toDouble / q / xs.size * 1e4 + 0.5) / 1e4
      assert(got(id) == ((xs.size.toLong, want)),
        s"doc $id: ${got(id)} vs ($want)")
    }
  }

  test("watermark detect: planted green-chain flagged, natural corpus clean, z exact") {
    import TestSession.spark.implicits._
    def isGreen(prev: String, cur: String): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$prev $cur".getBytes("UTF-8")).map("%02x".format(_)).mkString
      h(0) < '8'
    }
    // construct a "generated" doc the way a watermarking sampler would:
    // greedily extend with a vocab word whose bigram lands green
    val vocab = ('a' to 'z').map(_.toString)
    var chain = List("seed")
    for (_ <- 1 to 30)
      chain = chain :+ vocab.find(w => isGreen(chain.last, w)).getOrElse(vocab.head)
    val planted = chain.mkString(" ")
    // and a natural-ish control with the same length from fixed words
    val control = (0 until 31).map(i => vocab(i % 26)).mkString(" ")
    val got = TextAnalysis.watermarkOf(
      Seq((1L, planted), (2L, control), (3L, "solo"))
        .toDF("doc_id", "text")).orderBy("doc_id").collect()
    // planted: all 30 bigrams green -> z = 30/sqrt(30) = 5.477 > 4
    val g1 = got(0)
    assert(g1.getLong(1) == 30 && g1.getLong(2) == 30)
    assert(g1.getBoolean(4), "the green chain must be flagged")
    assert(g1.getDouble(3) == math.floor(30.0 / math.sqrt(30.0) * 1e4 + 0.5) / 1e4)
    // control: z matches the closed form from its own green count
    val cBg = control.split(" ").sliding(2).toSeq
    val cGreen = cBg.count(p => isGreen(p(0), p(1)))
    val g2 = got(1)
    assert(g2.getLong(2) == cGreen)
    assert(g2.getDouble(3) == math.floor(
      (2.0 * cGreen - cBg.size) / math.sqrt(cBg.size.toDouble) * 1e4 + 0.5) / 1e4)
    // a one-word doc has nothing to score and is never flagged
    assert(got(2).getLong(1) == 0 && got(2).getDouble(3) == 0.0
      && !got(2).getBoolean(4))
    // the real corpus is natural text: nothing should trip the z>4
    // gate, and the z distribution centers near 0 (chance greenness)
    val real = TextAnalysis.watermarkDetect(spark, sf).collect()
    assert(real.forall(!_.getBoolean(4)), "natural corpus must not flag")
    val zMean = real.map(_.getDouble(3)).sum / real.length
    assert(math.abs(zMean) < 0.5, s"z mean $zMean should sit near chance")
  }

  test("dsir weights: in-memory recompute agrees, ratio separates target from raw") {
    val dir = "/root/testdata/sf0.01"
    val rows = TextAnalysis.dsirWeights(spark, dir).collect()
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.length == docs.length)
    // recompute the whole model in memory: bucket counts, Laplace
    // unigram models, per-doc ln-ratio sums
    def bucket(term: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(term.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val hex = "0123456789abcdef"
      (hex.indexOf(h(0)) * 16 + hex.indexOf(h(1))).toLong
    }
    def score(text: String): Double = {
      val ws = text.split(" ")
      val s = ws.distinct.length.toDouble / ws.length * 0.3 +
        (1.0 - ws.count(w => w == "the" || w == "a").toDouble / ws.length) * 0.3 +
        math.min(ws.length / 100.0, 1.0) * 0.4
      math.floor(s * 10000.0 + 0.5) / 10000.0
    }
    val tgtIds = docs.filter { case (_, t) => score(t) >= 0.64 }.map(_._1).toSet
    val allToks = docs.flatMap { case (id, t) =>
      t.split(" ").map(w => (id, bucket(w))) }
    val cR = allToks.groupBy(_._2).map { case (b, xs) => b -> xs.length }
    val cT = allToks.filter(x => tgtIds(x._1)).groupBy(_._2)
      .map { case (b, xs) => b -> xs.length }
    val (nR, nT) = (allToks.length.toDouble,
      allToks.count(x => tgtIds(x._1)).toDouble)
    val lr = cR.map { case (b, c) => b ->
      (math.log((cT.getOrElse(b, 0) + 0.5) / (nT + 128.0))
        - math.log((c + 0.5) / (nR + 128.0))) }
    val want = allToks.groupBy(_._1).map { case (id, xs) =>
      id -> xs.map(x => lr(x._2)).sum }
    rows.foreach { r =>
      val (id, lw) = (r.getLong(0), r.getDouble(2))
      assert(math.abs(lw - want(id)) < 2e-4, s"doc $id: $lw vs ${want(id)}")
      assert(r.getBoolean(3) == (lw > 0.0) || lw == 0.0)
      assert(r.getLong(1) == docs.find(_._1 == id).get._2.split(" ").length)
    }
    // the POINT of importance weighting: the ratio must separate the
    // target slice from the rest in aggregate
    val byTgt = rows.partition(r => tgtIds(r.getLong(0)))
    val meanT = byTgt._1.map(_.getDouble(2)).sum / byTgt._1.length
    val meanR = byTgt._2.map(_.getDouble(2)).sum / byTgt._2.length
    assert(meanT > meanR, s"target mean $meanT must exceed raw mean $meanR")
    // and both verdict classes appear (the threshold is discriminative)
    assert(rows.exists(_.getBoolean(3)) && rows.exists(!_.getBoolean(3)))
  }

  test("heldout classifier eval: train-shard-only gradients, sane sweep") {
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, dir)
    val labeled = TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("text"),
        (col("score") >= 0.64).cast("int").as("y"),
        TextAnalysis.splitCol(col("text")).as("split"))
    // NO LEAKAGE: the weights trained through the heldout path's own
    // construction (label the FULL corpus, then filter to the train
    // shard) must be bitwise identical to weights trained on a corpus
    // from which valid/test docs were physically DELETED before any
    // labeling — if any aggregate anywhere in the chain saw a valid
    // doc (e.g. a future corpus-statistic label threshold), they
    // would differ
    val train = labeled.filter(col("split") === "train")
      .select(col("doc_id"), col("text"), col("y"))
    val wFull = TextAnalysis.classifierGd(
      TextAnalysis.classifierFeats(train), 4, 4.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prunedDocs = docs.join(
      train.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val labeledPruned = TextAnalysis.withQuality(prunedDocs)
      .select(col("doc_id"), col("text"),
        (col("score") >= 0.64).cast("int").as("y"))
    val wPruned = TextAnalysis.classifierGd(
      TextAnalysis.classifierFeats(labeledPruned), 4, 4.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(wFull == wPruned, "gradients must see the train shard only")
    // the sweep itself: 5 thresholds, counts partition the valid shard
    val nValid = labeled.filter(col("split") === "valid").count()
    assert(nValid > 0, "valid shard must be non-empty at sf0.01")
    val rows = TextAnalysis.classifierEvalHeldout(spark, dir).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4)
        == nValid, "confusion cells must partition the valid shard")
      Seq(5, 6, 7).foreach(i =>
        assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0))
    }
    // monotone threshold mechanics: raising the cutoff can only shrink
    // the kept set, so tp and fp are non-increasing in thresh
    val byT = rows.sortBy(_.getDouble(0))
    byT.zip(byT.tail).foreach { case (a, b) =>
      assert(a.getLong(1) >= b.getLong(1) && a.getLong(2) >= b.getLong(2))
    }
  }

  test("bpe train: greedy argmax, leftmost fuse, monotone counts, saturation stops") {
    import TestSession.spark.implicits._
    // overlapping run: " a  a  a " must fuse leftmost-first (-> aa + a),
    // so merge 2 is (aa, a) — a rightmost scan would learn (a, aa)
    val runs = TextAnalysis.bpeTrainOf(Seq("aaa").toDF("text"), 2).collect()
    assert(runs.map(r => (r.getString(1), r.getString(2), r.getLong(4)))
      .toSeq == Seq(("a", "a", 2L), ("aa", "a", 1L)))
    // greedy argmax with count weighting: 'ab' appears in 3 words x
    // counts, 'bc' in fewer occurrences -> (a,b) first
    val small = Seq("abc abd ab", "abc ab").toDF("text")
    val m = TextAnalysis.bpeTrainOf(small, 3).collect()
    assert((m(0).getString(1), m(0).getString(2)) == ("a", "b"))
    assert(m(0).getLong(4) == 5L) // abc x2, abd, ab x2
    // pair counts never increase step-over-step (a fused pair's derived
    // adjacencies are sub-counts of the occurrences just fused)
    val full = TextAnalysis.bpeTrain(spark, sf).collect()
    assert(full.length == 8)
    val counts = full.sortBy(_.getInt(0)).map(_.getLong(4))
    counts.zip(counts.tail).foreach { case (a, b) => assert(a >= b) }
    // saturated vocabulary: a fully-fused corpus stops emitting merges
    // instead of erroring
    val sat = TextAnalysis.bpeTrainOf(Seq("ab ab").toDF("text"), 4).collect()
    assert(sat.length == 1 &&
      (sat(0).getString(1), sat(0).getString(2)) == ("a", "b"))
    // ... and the trained per-word symbol STATE survives rounds past
    // saturation (the pre-fix cross-join with the empty winner wiped
    // the whole vocab frame — every word silently became a 1-token OOV
    // in bpeApply; only count coincidence masked it)
    val (satM, satV) =
      TextAnalysis.bpeTrainState(Seq("ab ab").toDF("text"), 4)
    assert(satM.count() == 1)
    val vr = satV.collect()
    assert(vr.length == 1 && vr(0).getString(0) == "ab"
      && vr(0).getString(2).trim == "ab",
      "symbol state must survive saturation, not be wiped")
  }

  test("zipf fit: exact power law reads slope -1 r2 1, uniform reads slope 0") {
    import TestSession.spark.implicits._
    // plant freq(term_r) = 2^(7-r) over 8 terms: ln f = ln 2^7 - r ln 2,
    // exactly linear in ln rank? no — linear in RANK, not ln rank; use
    // freq = 720/r over ranks 1..6 instead (integer counts, exact law)
    val planted = (1 to 6).flatMap(r => Seq.fill(720 / r)(s"t$r"))
    val zp = TextAnalysis.zipfFitOf(Seq(planted.mkString(" ")).toDF("text"))
      .collect().head
    assert(zp.getLong(2) == 6L)
    assert(math.abs(zp.getDouble(3) + 1.0) < 0.01, s"slope ${zp.getDouble(3)}")
    assert(zp.getDouble(5) > 0.999, s"r2 ${zp.getDouble(5)}")
    // a uniform corpus has zero slope
    val uni = (1 to 6).flatMap(r => Seq.fill(100)(s"u$r"))
    val zu = TextAnalysis.zipfFitOf(Seq(uni.mkString(" ")).toDF("text"))
      .collect().head
    assert(zu.getDouble(3) == 0.0, s"uniform slope ${zu.getDouble(3)}")
    // the real corpus: its 31-word vocabulary is near-uniform, and the
    // diagnostic correctly reads it as NON-Zipfian (shallow slope, weak
    // fit) — exactly the verdict the metric exists to raise on
    // synthetic/templated text
    val zr = TextAnalysis.zipfFit(spark, TestSession.sf).collect().head
    assert(zr.getLong(2) == zr.getLong(0), "top cut covers the whole vocab")
    assert(zr.getDouble(3) < 0.0 && zr.getDouble(3) > -0.6,
      s"slope ${zr.getDouble(3)}")
    assert(zr.getDouble(5) < 0.5, s"r2 ${zr.getDouble(5)}")
  }

  test("bpe apply: trained metering bounded, monotone in merges, oov counts one") {
    val rows = TextAnalysis.bpeApply(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val (nw, nc, nt) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // every word is at least one token; no word exceeds its chars
      assert(nt >= nw && nt <= nc, s"doc ${r.getLong(0)}: $nw/$nc/$nt")
      assert(r.getDouble(4) ==
        math.floor(nc.toDouble / nt * 1e4 + 0.5) / 1e4)
    }
    // more merges can only fuse further: token counts non-increasing
    val few = TextAnalysis.bpeApply(spark, sf, nMerges = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    rows.foreach(r => assert(r.getLong(3) <= few(r.getLong(0))))
    // out-of-vocabulary (len<2) words meter as one token each
    import TestSession.spark.implicits._
    val one = TextAnalysis.bpeTrainState(
      Seq("a b ab").toDF("text"), 1)
    // only "ab" trains (len>=2); merge fuses it to one symbol, so the
    // doc meters as 3 tokens: a(oov)=1, b(oov)=1, ab(trained)=1
    val vocab = one._2.collect()
    assert(vocab.length == 1 && vocab.head.getString(0) == "ab")
  }

  test("classifier eval: confusion cells partition the corpus, monotone recall") {
    val dir = TestSession.sf
    val rows = TextAnalysis.classifierEval(spark, dir).collect()
      .sortBy(_.getDouble(0))
    assert(rows.length == 5)
    val n = Tables.documents(spark, dir).count()
    rows.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) + r.getLong(3) + r.getLong(4) == n,
        "tp+fp+fn+tn must partition the corpus")
    }
    // raising the threshold can only shrink the predicted-positive set:
    // tp and fp are non-increasing in thresh, recall non-increasing
    val tps = rows.map(_.getLong(1)); val fps = rows.map(_.getLong(2))
    tps.zip(tps.tail).foreach { case (a, b) => assert(a >= b) }
    fps.zip(fps.tail).foreach { case (a, b) => assert(a >= b) }
    // metrics agree with their own confusion cells
    rows.foreach { r =>
      val (tp, fp, fn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      def frac(a: Long, b: Long): Double =
        if (b == 0) 0.0 else math.floor(a.toDouble / b * 1e4 + 0.5) / 1e4
      assert(r.getDouble(5) == frac(tp, tp + fp))
      assert(r.getDouble(6) == frac(tp, tp + fn))
      assert(r.getDouble(7) == frac(2 * tp, 2 * tp + fp + fn))
    }
  }

  test("classifier calibration: bin identities hold, ece is the weighted gap mean") {
    val rows = TextAnalysis.classifierCalibration(spark, TestSession.sf)
      .collect().sortBy(_.getLong(0))
    assert(rows.nonEmpty)
    val n = rows.map(_.getLong(1)).sum
    assert(n == Tables.documents(spark, TestSession.sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) <= r.getLong(1))
      assert(r.getLong(0) >= 0 && r.getLong(0) < 20)
      // pos_rate and gap agree with their own cells
      val pr = math.floor(r.getLong(2).toDouble / r.getLong(1) * 1e4 + 0.5) / 1e4
      assert(r.getDouble(4) == pr)
      val gap = math.floor(math.abs(r.getDouble(3) - r.getDouble(4))
        * 1e4 + 0.5) / 1e4
      assert(r.getDouble(5) == gap)
      // predicted probability means stay inside their bin's range
      assert(r.getDouble(3) >= r.getLong(0) / 20.0 - 1e-4 &&
        r.getDouble(3) <= (r.getLong(0) + 1) / 20.0 + 1e-4)
    }
    // ece: support-weighted mean of the (unrounded-at-accumulation) gaps,
    // constant across rows
    val ece = rows.map(r =>
      math.abs(r.getDouble(3) - r.getDouble(4)) * r.getLong(1)).sum / n
    val pinned = math.floor(ece * 1e4 + 0.5) / 1e4
    rows.foreach { r =>
      assert(math.abs(r.getDouble(6) - pinned) < 2e-4,
        s"ece ${r.getDouble(6)} vs $pinned")
      assert(r.getBoolean(7) == (r.getDouble(6) < 0.1))
    }
  }

  test("classifier score: dyadic weights reproduce the exact logit") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(term: String): Long = {
      val hex = md.digest(term.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      java.lang.Long.parseLong(hex, 16)
    }
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val got = operators.TextAnalysis.classifierScore(spark, sf).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    texts.foreach { case (id, ws) =>
      // the weight sum is exact (dyadic rationals), so the comparison
      // is equality after the same single division and rounding
      val sum = ws.map(w =>
        (bucket(w) * 2654435761L) % 65536L / 65536.0 - 0.5).sum
      val logit = BigDecimal(sum / ws.length * 4.0 - 0.125)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (n, gotLogit, keep) = got(id)
      assert(n == ws.length && gotLogit == logit,
        s"doc $id logit $gotLogit vs $logit")
      assert(keep == (gotLogit > 0.0))
    }
  }

  test("chunk: windows cover every word, overlap consistent, tail short") {
    val width = 64; val stride = 48
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1).toSeq))
    val got = operators.TextAnalysis.chunk(spark, sf).collect()
      .groupBy(_.getLong(0))
    assert(got.size == texts.length)
    texts.foreach { case (id, ws) =>
      val chunks = got(id).sortBy(_.getLong(1))
      val nExtra = if (ws.length <= width) 0
        else math.ceil((ws.length - width).toDouble / stride).toInt
      assert(chunks.length == nExtra + 1, s"doc $id chunk count")
      chunks.foreach { c =>
        val i = c.getLong(1).toInt
        val expect = ws.slice(i * stride, i * stride + width)
        assert(c.getString(4) == expect.mkString(" "),
          s"doc $id chunk $i text")
        assert(c.getLong(3) == expect.length, s"doc $id chunk $i n_words")
        assert(c.getLong(2) == i * stride + 1)
      }
      // coverage: the union of windows is exactly the word range
      assert(chunks.map(c => c.getLong(2) + c.getLong(3) - 1).max ==
        ws.length)
    }
  }

  test("collocations: bounded by topN, support floor holds, PMI favors rare pairs") {
    val rows = TextAnalysis.collocations(spark, sf).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    assert(rows.forall(_.getLong(1) >= 5), "support floor violated")
    val pmis = rows.map(_.getDouble(2))
    assert(pmis.zip(pmis.tail).forall { case (a, b) => a >= b },
      "not sorted by PMI desc")
    // PMI of a bigram can't exceed ln(N^2 / (B * max(ca, cb))) in
    // general; sanity: it must beat ln of independence for the top hit
    assert(pmis.head > 0, "top collocation is not positively associated")
  }

  test("gopher rules: pass is the conjunction, features match a hand recompute") {
    import org.apache.spark.sql.functions.col
    val rows = TextAnalysis.gopherRules(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val passes = rows.count(_.getBoolean(11))
    assert(passes > 0 && passes < rows.length,
      s"rule battery is vacuous: $passes of ${rows.length} pass")
    rows.foreach { r =>
      assert(r.getBoolean(11) == (r.getBoolean(6) && r.getBoolean(7) &&
        r.getBoolean(8) && r.getBoolean(9) && r.getBoolean(10)))
    }
    // hand recompute doc features for a few docs
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .limit(5).collect().map(r => (r.getLong(0), r.getString(1))).toMap
    def frac4(x: Double) = math.floor(x * 10000.0 + 0.5) / 10000.0
    rows.filter(r => docs.contains(r.getLong(0))).foreach { r =>
      val ws = docs(r.getLong(0)).split(" ", -1)
      assert(r.getInt(1) == ws.length)
      assert(r.getDouble(2) == frac4(ws.map(_.length).sum.toDouble / ws.length))
      assert(r.getDouble(3) == frac4(ws.distinct.length.toDouble / ws.length))
      val top = ws.groupBy(identity).values.map(_.length).max
      assert(r.getDouble(4) == frac4(top.toDouble / ws.length))
      val stops = Set("the", "a", "value", "row", "key")
      assert(r.getInt(5) == ws.distinct.count(stops))
    }
  }

}
