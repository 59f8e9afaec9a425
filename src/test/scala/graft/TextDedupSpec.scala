package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{TextFunctions, TextHash}
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.unsafe.types.UTF8String

class TextDedupSpec extends AnyFunSuite {
  import TestSession._

  test("hash split is a pure function of text: duplicates share a split, ratios sane") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // dup-safety on a corpus WITH planted exact duplicates: same text ->
    // same split, regardless of doc_id (a random or id-based split
    // would leak the duplicate across train/test)
    val planted = (1L to 200L).map(i => (i, s"document body ${i % 50}"))
      .toDF("doc_id", "text")
    val ps = graft.operators.TextAnalysis.hashSplitOf(planted)
      .join(planted, "doc_id")
    assert(ps.groupBy(col("text"))
      .agg(countDistinct(col("split")).as("n")).filter(col("n") > 1).isEmpty)
    // the real table: every doc assigned, three-way partition, train bulk
    val counts = graft.operators.TextAnalysis.hashSplit(spark, sf)
      .groupBy(col("split")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == Tables.documents(spark, sf).count())
    assert(counts.getOrElse("train", 0L) > counts.getOrElse("valid", 0L))
    assert(counts.getOrElse("train", 0L) > counts.getOrElse("test", 0L))
  }

  test("split leakage: pairs are the verified near-dups, verdict matches splits") {
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val splits = graft.operators.TextAnalysis.hashSplit(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val rows = Dedup.splitLeakage(spark, sf).collect()
    // exactly the verified pair list, each annotated — nothing added,
    // nothing dropped by the split joins
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet
      == pairs.keySet)
    rows.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(r.getDouble(2) == pairs((a, b)))
      assert(r.getString(3) == splits(a) && r.getString(4) == splits(b))
      assert(r.getBoolean(5) == (splits(a) != splits(b)),
        s"leak verdict for ($a, $b)")
    }
    // the audit exists because near-dups DO cross the hash split:
    // text-hash splitting only co-locates exact duplicates
    assert(rows.exists(_.getBoolean(5)),
      "testdata must contain at least one cross-split near-dup pair")
  }

  test("near-dup clusters equal the transitive closure of the pair list") {
    val pairs = Dedup.ngramJaccard(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "testdata must contain near-dup pairs")
    // naive union-find on the collected pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val expect = members.map(m => m -> find(m)).toMap
    val got = Dedup.nearDupClusters(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect)
    // cluster label is the component minimum
    expect.groupBy(_._2).foreach { case (c, ms) => assert(ms.keys.min == c) }
  }

  test("final survivors = exact survivors minus near-dup cluster non-minima") {
    val exact = Dedup.exactSurvivors(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val clusters = Dedup.nearDupClusters(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deletes = clusters.filter { case (d, c) => d != c }.map(_._1).toSet
    val got = Dedup.finalSurvivors(spark, sf).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == (exact -- deletes) && got.nonEmpty)
  }

  test("decontamination flags only cross-split pairs with enough shared shingles") {
    val rows = TextAnalysis.decontaminate(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) % 10 != 0, "train side must be off the eval split")
      assert(r.getLong(1) % 10 == 0, "eval side must be on the eval split")
      assert(r.getLong(2) >= 3)
    }
    // a doc trivially shares all its shingles with itself: planting an
    // eval copy of a train doc must surface that pair
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    val (trainId, text) = docs.find(d => d._1 % 10 != 0 && d._2.split(" ").length >= 5).get
    val planted = docs.toSeq :+ (1000000L, text)
    val df = planted.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("x"))
      .withColumn("n_chars", length(col("text")))
    val tmp = "target/tmp-sources/decon"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    df.write.parquet(s"$tmp/documents.parquet")
    val hits = TextAnalysis.decontaminate(spark, tmp)
      .filter(col("eval_doc") === 1000000L).collect()
    assert(hits.exists(_.getLong(0) == trainId),
      s"planted contamination (train $trainId) not found")
  }

  test("bigram counts equal the naive transform formulation") {
    val naive = Tables.documents(spark, sf)
      .select(explode(expr(
        "transform(sequence(1, size(split(text, ' ')) - 1)," +
          " i -> concat(element_at(split(text, ' '), i), ' '," +
          " element_at(split(text, ' '), i + 1)))")).as("bigram"))
      .groupBy("bigram").count()
      .orderBy(col("count").desc, col("bigram")).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val got = TextAnalysis.bigrams(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == naive && got.length == 20)
  }

  test("normalized dedup clusters at least as coarsely as exact dedup") {
    val exact = Dedup.exact(spark, sf).count()
    val norm = TextAnalysis.normalizeDedup(spark, sf).count()
    assert(norm <= exact, "normalization can only merge clusters")
    // same universe of docs survives in both
    import spark.implicits._
    val nDocs = Tables.documents(spark, sf).count()
    val sums = TextAnalysis.normalizeDedup(spark, sf)
      .agg(sum(col("n_dups"))).head().getLong(0)
    assert(sums == nDocs)
  }

  test("cdc chunks: boundaries travel with content, counts match recompute") {
    import org.apache.spark.sql.functions.col
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(w: String): Int = {
      val d = md.digest(w.getBytes("UTF-8"))
      java.lang.Integer.parseInt(d.take(1).map("%02x".format(_)).mkString, 16)
    }
    def chunksOf(text: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer[List[String]]()
      var cur = List.empty[String]
      text.split(" ", -1).foreach { w =>
        if (bucket(w) % 8 == 0) { // boundary word starts a new chunk
          if (cur.nonEmpty) out += cur
          cur = List(w)
        } else cur = cur :+ w
      }
      if (cur.nonEmpty) out += cur
      out.map(_.mkString(" ")).toSeq
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val freq = docs.flatMap { case (id, t) => chunksOf(t).distinct.map(_ -> id) }
      .groupBy(_._1).map { case (c, v) => c -> v.length }
    val got = operators.Dedup.cdcChunks(spark, sf).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val (_, text) = docs.find(_._1 == r.getLong(0)).get
      val cs = chunksOf(text)
      assert(r.getLong(1) == cs.length.toLong,
        s"doc ${r.getLong(0)} chunk count")
      val dup = cs.count(c => freq(c) >= 2)
      assert(r.getLong(2) == dup.toLong, s"doc ${r.getLong(0)} dup chunks")
    }
    // the property fixed-stride segmentation lacks: a leading insertion
    // shifts every 8-word window, but CDC boundaries re-align
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    val shifted = "INSERTED " + base
    val cb = chunksOf(base.trim).toSet
    val cs2 = chunksOf(shifted.trim).toSet
    assert((cb intersect cs2).size >= cb.size - 2,
      "content-defined chunks did not re-align after an insertion")
  }

  test("hash64 is deterministic and spread") {
    val a = TextHash.hash64(UTF8String.fromString("spark"))
    val b = TextHash.hash64(UTF8String.fromString("spark"))
    val c = TextHash.hash64(UTF8String.fromString("sparl"))
    assert(a == b && a != c)
  }

  test("minhash signature approximates jaccard on crafted docs") {
    import spark.implicits._
    val d1 = (1 to 100).map(i => s"tok$i")
    val d2 = (1 to 80).map(i => s"tok$i") ++ (101 to 120).map(i => s"tok$i") // J = 0.8/1.2 = 0.667
    val df = Seq((1, d1), (2, d2)).toDF("id", "sh")
      .select(col("id"), TextFunctions.minhash_signature(col("sh"), 256).as("sig"))
    val Array(s1, s2) = df.orderBy("id").collect().map(_.getSeq[Long](1))
    val agree = s1.zip(s2).count { case (x, y) => x == y } / 256.0
    assert(math.abs(agree - 0.667) < 0.12, s"minhash agreement $agree vs jaccard 0.667")
  }

  test("simhash of identical docs is identical; near docs are close") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"w$i")
    val near = (1 to 58).map(i => s"w$i") ++ Seq("x1", "x2")
    val far = (1 to 60).map(i => s"z$i")
    val df = Seq((1, base), (2, base), (3, near), (4, far)).toDF("id", "sh")
      .select(col("id"), TextFunctions.simhash64(col("sh")).as("s"))
    val m = df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m(1) == m(2))
    assert(java.lang.Long.bitCount(m(1) ^ m(3)) < 16)
    assert(java.lang.Long.bitCount(m(1) ^ m(4)) > 16)
  }

  test("minhash LSH finds the planted near-duplicate pairs") {
    // sf0.01 has pairs with shingle-jaccard >= 0.97 (e.g. 70-447, 98-290)
    val pairs = Dedup.minhashCandidates(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((70L, 447L)) && pairs.contains((98L, 290L)),
      s"expected planted near-dups among ${pairs.size} candidates")
  }

  test("ngram jaccard verifies candidates with high similarity") {
    val rows = Dedup.ngramJaccard(spark, "/root/testdata/sf0.01").collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(2) >= 0.8 && r.getDouble(2) <= 1.0))
  }

  test("the Jaccard verify semi-joins to pair members below the shingle projection") {
    // Catalyst does not push the broadcast semi join below a projection,
    // so shingling after the join is what keeps the verify member-sized:
    // in every optimized plan that shingles semi-joined documents, the
    // LeftSemi join must print below (run before) word_shingles
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "ngramJaccard" -> (() => Dedup.ngramJaccard(spark, sf)),
      "paraphrasePairs" -> (() =>
        graft.operators.Similarity.paraphrasePairs(spark, sf))
    ).foreach { case (name, run) =>
      val pruned = PlanCapture.during(spark)(run().collect())
        .map(_.toString.linesIterator.toSeq)
        .filter(ls => ls.exists(_.contains("Join LeftSemi")) &&
          ls.exists(_.contains("word_shingles")))
      assert(pruned.nonEmpty, s"$name ran no semi-joined shingle plan")
      pruned.foreach { ls =>
        assert(ls.indexWhere(_.contains("Join LeftSemi")) >
          ls.indexWhere(_.contains("word_shingles")),
          s"$name shingles before pruning:\n${ls.mkString("\n")}")
      }
    }
  }

  test("simhash blocked join equals brute-force hamming filter") {
    val got = Dedup.simhashPairs(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sims = Dedup.docsWithShingles(spark, "/root/testdata/sf0.01")
      .select(col("doc_id"), TextFunctions.simhash64(col("shingles")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val brute = (for {
      (i, si) <- sims; (j, sj) <- sims if i < j
      if java.lang.Long.bitCount(si ^ sj) <= 3
    } yield (i, j)).toSet
    assert(got == brute, s"got ${got.size} brute ${brute.size}")
  }

  test("simhashPairs: degenerate-bucket abandonment is observable") {
    // r17 ADVICE: the maxBucket cap silently dropped ALL pairs of an
    // oversized block-key bucket with no runtime signal. The named
    // observe() metric makes it visible: a planted 50-identical-doc
    // block at maxBucket = 10 must (a) contribute zero pairs, (b) show
    // dropped_buckets > 0, while (c) a planted in-cap pair still
    // surfaces; the untouched test corpus shows dropped_buckets == 0.
    import spark.implicits._
    val tmp = "target/tmp-sources/simhashobs"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    val hot = (0L until 50L).map(i =>
      (i, "identical template body repeated across the whole corpus block"))
    val planted = Seq(
      (100L, "unique planted near duplicate alpha beta gamma delta epsilon"),
      (101L, "unique planted near duplicate alpha beta gamma delta epsilon"))
    (hot ++ planted).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("probe").as("source"), length(col("text")).as("n_chars"))
      .write.parquet(s"$tmp/documents.parquet")
    @volatile var observed: Option[org.apache.spark.sql.Row] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        qe.observedMetrics.get("simhash_buckets")
          .foreach(r => observed = Some(r))
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Dedup.simhashPairs(spark, tmp, maxBucket = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == Set((100L, 101L)),
        s"in-cap pair must survive, hot block must induce nothing: $pairs")
      var tries = 0
      while (observed.isEmpty && tries < 100) { Thread.sleep(100); tries += 1 }
      assert(observed.nonEmpty, "observe metric never surfaced")
      assert(observed.get.getAs[Long]("dropped_buckets") > 0L,
        s"the 50-doc block's buckets must report as dropped: ${observed.get}")
      // negative arm: the ordinary corpus abandons nothing at defaults
      observed = None
      Dedup.simhashPairs(spark, "/root/testdata/sf0.001").collect()
      tries = 0
      while (observed.isEmpty && tries < 100) { Thread.sleep(100); tries += 1 }
      assert(observed.nonEmpty &&
        observed.get.getAs[Long]("dropped_buckets") == 0L,
        s"default corpus must drop nothing: $observed")
    } finally spark.listenerManager.unregister(listener)
  }

  test("containment flags a doc-inside-doc pair whose Jaccard is tiny") {
    import spark.implicits._
    // doc 1 (12 words, 10 shingles) is quoted whole inside doc 2 (62
    // words): containment(1 in 2) = 1.0 while Jaccard ~ 10/60 — below
    // any LSH-viable threshold, which is the reason this operator exists
    val small = (1 to 12).map(i => s"w$i").mkString(" ")
    val big = small + " " + (100 to 149).map(i => s"x$i").mkString(" ")
    val noise = (1 to 8).map(d =>
      (10L + d, (1 to 30).map(i => s"n${d}_$i").mkString(" ")))
    val docs = (Seq((1L, small), (2L, big)) ++ noise).toDF("doc_id", "text")
    val rows = Dedup.containmentOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(rows.toSeq == Seq((1L, 2L, 1.0)),
      s"expected exactly the planted (1 in 2) pair, got ${rows.toSeq}")
    // the pair's actual Jaccard documents why the symmetric pipeline
    // can't see it: shared 10 / union 60 shingles = 0.167 << 0.8
    def shingles(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val j = shingles(small).intersect(shingles(big)).size.toDouble /
      shingles(small).union(shingles(big)).size
    assert(j < 0.2, s"planted pair unexpectedly similar: $j")
  }

  test("exact survivors has no duplicate texts and keeps min doc_id") {
    val surv = Dedup.exactSurvivors(spark, sf)
    val n = surv.count()
    assert(n > 0 && n <= operators.Dedup.docsWithShingles(spark, sf).count() +
      100) // survivors <= total docs
    assert(surv.select("doc_id").distinct().count() == n)
  }

  test("winnow fingerprint overlaps heavily for near-identical text") {
    import spark.implicits._
    val t1 = ("abcdefgh" * 20)
    val t2 = t1.substring(0, 150) + "XYZDIFF"
    val df = Seq((1, t1), (2, t2), (3, "completely different content here"))
      .toDF("id", "text")
      .select(col("id"), TextFunctions.winnow_fingerprint(col("text")).as("fp"))
    val m = df.collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSet).toMap
    val overlap12 = m(1).intersect(m(2)).size.toDouble / m(1).union(m(2)).size
    val overlap13 = m(1).intersect(m(3)).size.toDouble / m(1).union(m(3)).size
    assert(overlap12 > 0.4 && overlap13 == 0.0, s"$overlap12 $overlap13")
  }

  test("xentropy: positive scores, token counts match the tokenizer") {
    val rows = TextAnalysis.xentropy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) > 0.0, s"doc ${r.getLong(0)}: xent not positive")
    }
    // n_tokens agrees with a direct split count on one doc
    val doc = Tables.documents(spark, sf)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
      .head()
    val row = rows.find(_.getLong(0) == doc.getLong(0)).get
    assert(row.getLong(1) == doc.getInt(1).toLong)
  }

  test("weightedSample: k rows, priorities non-increasing and negative") {
    val rows = TextAnalysis.weightedSample(spark, sf, k = 50).collect()
    assert(rows.length == 50)
    assert(rows.map(_.getInt(0)).toSeq == (1 to 50))
    val ps = rows.map(_.getDouble(2))
    assert(ps.zip(ps.tail).forall { case (a, b) => a >= b })
    assert(ps.forall(_ < 0.0), "ln(u)/w must be negative for u in (0,1)")
    // determinism: a second run returns the identical sample
    val again = TextAnalysis.weightedSample(spark, sf, k = 50).collect()
    assert(rows.map(_.getLong(1)).toSeq == again.map(_.getLong(1)).toSeq)
  }

  test("tfidf: dense ranks per doc, scores non-increasing, idf sane") {
    val rows = TextAnalysis.tfidf(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getLong(0)).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length),
        s"doc $doc: ranks not dense")
      val scores = sorted.map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"doc $doc: scores increase down the ranking")
      // idf >= 0 always (df <= N) => tf * idf >= 0
      assert(scores.forall(_ >= 0.0), s"doc $doc: negative tf-idf")
    }
  }

  test("fingerprintChecked: winnow structure verdicts all true on the corpus") {
    val rows = TextAnalysis.fingerprintChecked(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getBoolean(2), s"doc ${r.getLong(0)}: selection bounds violated")
      assert(r.getBoolean(3), s"doc ${r.getLong(0)}: fp not sorted-distinct")
    }
  }

  test("langid prediction is consistent with hit counts") {
    val rows = TextAnalysis.langid(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val hits = (1 to 5).map(r.getInt)
      val pred = r.getString(6)
      val langs = Seq("en", "es", "fr", "de", "zh")
      assert(hits(langs.indexOf(pred)) == hits.max)
    }
  }

  test("quality score is bounded") {
    TextAnalysis.quality(spark, sf).collect().foreach { r =>
      val score = r.getDouble(6)
      assert(score >= 0.0 && score <= 1.0, s"score $score out of range")
    }
  }

  test("minhashCoverageChecked equals brute-force pairs at the 0.9 threshold") {
    import org.apache.spark.sql.functions._
    val sets = Dedup.docsWithShingles(spark, sf)
      .select(col("doc_id"), array_distinct(col("shingles")).as("sh"))
    val a = sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .withColumn("j", round(size(array_intersect(col("sh_a"), col("sh_b"))) /
        size(array_union(col("sh_a"), col("sh_b"))), 4))
      .filter(col("j") >= 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.minhashCoverageChecked(spark, sf).collect()
    assert(got.nonEmpty && got.forall(_.getBoolean(3)))
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == brute,
      "verified candidates at 0.9 must equal brute force (recall contract)")
  }

  test("simhashChecked: one all-true verdict row per document, non-vacuous") {
    val rows = Dedup.simhashChecked(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getBoolean(1), s"doc ${r.getLong(0)} has an unverified partner")
      assert(r.getBoolean(2), s"doc ${r.getLong(0)} exceeds maxHamming")
    }
    // the verdicts must actually exercise reported pairs
    assert(Dedup.simhashPairs(spark, sf).count() > 0)
  }

  test("spanDedup: planted spans cut exactly, unique and short docs untouched") {
    import org.apache.spark.sql.functions.{col, md5, lit}
    import TestSession.spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("spandedup").toString
    Seq(
      (1L, "a b c d e f g h i j"),  // exact dup of 2 -> fully covered
      (2L, "a b c d e f g h i j"),
      (3L, "z y x w v u t s r q"),  // unique -> untouched
      (4L, "a b c d e f g h zz qq"), // shares one 8-gram -> 8/10 cut
      (5L, "one two three"))         // shorter than k -> untouched
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.TextAnalysis.spanDedup(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))).toMap
    def h(s: String): String = Seq(s).toDF("t")
      .select(md5(col("t").cast("binary"))).head().getString(0)
    assert(got(1L) == ((10L, 10L, 1.0, h(""))))
    assert(got(2L) == ((10L, 10L, 1.0, h(""))))
    assert(got(3L) == ((10L, 0L, 0.0, h("z y x w v u t s r q"))))
    assert(got(4L) == ((10L, 8L, 0.8, h("zz qq"))))
    assert(got(5L) == ((3L, 0L, 0.0, h("one two three"))))
  }

  test("spanDedup on the corpus: exact-dup docs are fully covered, fractions bounded") {
    import org.apache.spark.sql.functions.col
    val rows = operators.TextAnalysis.spanDedup(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), s"doc ${r.getLong(0)} dup > total")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // any exact-duplicate document of length >= 8 must be 100% covered
    // (the sf0.001 slice plants none — the planted fixture test above
    // carries the non-vacuous coverage check)
    val dupIds = Tables.documents(spark, sf)
      .groupBy(col("text")).count().filter(col("count") >= 2)
      .join(Tables.documents(spark, sf), Seq("text"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    rows.filter(r => dupIds.contains(r.getLong(0)) && r.getLong(1) >= 8)
      .foreach(r => assert(r.getDouble(3) == 1.0,
        s"exact-dup doc ${r.getLong(0)} only ${r.getDouble(3)} covered"))
  }

  test("bloom-gated incremental dedup equals the ungated verdicts, gate real") {
    val gated = operators.Dedup.incrementalBloom(spark, sf)
    val want = operators.Dedup.incremental(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(gated.collect().map(_.toSeq).toSeq == want,
      "bloom gating must not change any verdict")
    // the gate is real: the physical plan carries the bloom probe and
    // the might_contain filter sits on the arriving scan
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), "bloom gate missing from plan")
    // on this corpus some arrivals are genuinely new -> the map-side
    // fast path has work to do (at sf0.001 no dup crosses the %5 split,
    // so dup rungs are covered by the sf0.01 oracle gate instead)
    assert(want.exists(_(1) == "unique"))
  }

  test("lsh sweep: S-curve monotone in bands, measured recall clears design") {
    val rows = operators.Dedup.lshSweep(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(4, 8, 16, 32))
    rows.foreach { r => assert(r.getInt(0) * r.getInt(1) == 64) }
    // for fixed s, more (shorter) bands can only raise hit probability
    for (c <- 2 to 4) {
      rows.sliding(2).foreach { case Array(a, b) =>
        assert(b.getDouble(c) >= a.getDouble(c),
          s"design recall col $c fell from bands ${a.getInt(0)} to ${b.getInt(0)}")
      }
    }
    // closed-form spot check: (16,4)@0.8 is the famous ~0.9998
    val fine = rows.find(_.getInt(0) == 16).get
    assert(fine.getDouble(3) > 0.999 && fine.getDouble(3) < 1.0)
    // n_true equals the standing verify kernel's pair count, verdicts hold
    val nTrue = operators.Dedup.ngramJaccard(spark, sf).count()
    rows.foreach { r =>
      assert(r.getLong(5) == nTrue)
      assert(r.getBoolean(7), s"bands ${r.getInt(0)} missed its design recall")
    }
    // EVERY arm's emitted measured_recall equals an independent
    // recompute (truth ∩ candidates / truth), and the verdict is the
    // measured-vs-design comparison it claims to be — nothing stated
    // without measurement (the r12 ADVICE ask)
    val truth = operators.Dedup.ngramJaccard(spark, sf)
      .select(col("doc_a"), col("doc_b"))
    rows.foreach { r =>
      val b = r.getInt(0)
      val found = truth.join(
        operators.Dedup.minhashCandidates(spark, sf, 64, b),
        Seq("doc_a", "doc_b"), "left_semi").count()
      val want = math.floor(found.toDouble / nTrue * 1e4 + 0.5) / 1e4
      assert(r.getDouble(6) == want,
        s"bands $b measured_recall ${r.getDouble(6)} != recomputed $want")
      assert(r.getBoolean(7) == (found.toDouble >= nTrue * r.getDouble(3)),
        s"bands $b verdict is not the measured-vs-design comparison")
      info(f"bands $b%2d: measured recall $want%.4f (design ${r.getDouble(3)}%.4f)")
    }
    // BOUNDARY: an unreachable tau empties the truth set — n_true = 0,
    // measured recall vacuously 1.0 (no division blowup), verdict true
    val empty = operators.Dedup.lshSweep(spark, sf, tau = 2.0).collect()
    assert(empty.length == 4)
    empty.foreach { r =>
      assert(r.getLong(5) == 0L)
      assert(r.getDouble(6) == 1.0, "empty truth must read as vacuous full recall")
      assert(r.getBoolean(7))
    }
  }
}
