package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions.cosine_sim
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  import TestSession._

  test("cosine_sim matches hand computation on floats") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f)))
      .toDF("a", "b").select(cosine_sim(col("a"), col("b")).as("c"))
    val got = df.head().getDouble(0)
    val expect = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(got - expect) < 1e-12, s"$got vs $expect")
  }

  test("cosine_sim rejects int arrays and mixed float/double at analysis time") {
    import spark.implicits._
    val ints = Seq((Array(1, 2), Array(3, 4))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      ints.select(cosine_sim(col("a"), col("b"))).collect()
    }
    val mixed = Seq((Array(1.0f, 2.0f), Array(3.0, 4.0))).toDF("a", "b")
    intercept[org.apache.spark.sql.AnalysisException] {
      mixed.select(cosine_sim(col("a"), col("b"))).collect()
    }
    // and via the SQL registry (the path ADVICE flagged)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cosine_sim(array(1, 2), array(3, 4))").collect()
    }
  }

  test("cosine_sim of a vector with itself is 1") {
    val one = Similarity.bruteTopK(spark, sf, k = 1, nQueries = 3)
    one.collect().foreach(r => assert(r.getDouble(3) < 1.0)) // self excluded
  }

  test("brute topk returns k rows per query with descending scores") {
    val rows = Similarity.bruteTopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.length == 5)
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF probing all cells equals brute force exactly") {
    val brute = Similarity.bruteTopK(spark, sf).collect().map(_.toSeq)
    val ivfAll = Similarity.ivfTopK(spark, sf, nCells = 16, nProbe = 16)
      .collect().map(_.toSeq)
    assert(brute.sameElements(ivfAll))
  }

  test("IVF with partial probing returns subset-quality results") {
    val rows = Similarity.ivfTopK(spark, sf, nProbe = 4).collect()
    assert(rows.nonEmpty)
    // every query still gets results, ranked correctly
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val rks = rs.map(_.getInt(1)).sorted
      assert(rks.sameElements(1 to rks.length))
    }
  }

  test("recall eval: per-query hits equal a hand recompute; full probe = 1.0") {
    val rows = Similarity.annRecallEval(spark, sf).collect()
    assert(rows.length == Similarity.NQueries, "one row per query, " +
      "including any recall-zero query")
    // independent recompute from the two top-k sets
    val truth = Similarity.bruteTopK(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(2)).toSet }
    val approx = Similarity.ivfTopK(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getLong(2)).toSet }
    rows.foreach { r =>
      val q = r.getLong(0)
      val expect = (truth(q) intersect approx.getOrElse(q, Set.empty)).size
      assert(r.getLong(1) == expect.toLong, s"query $q hit count")
      assert(r.getDouble(2) == expect.toDouble / Similarity.K,
        s"query $q recall")
    }
    assert(rows.forall(r => r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0))
  }

  test("persisted ivfpq: cold == warm == trained, artifact on disk") {
    import graft.sources.ModelStore
    // the key is corpus-content-fingerprinted + hyperparams (the r11
    // ADVICE staleness fix) — recompute it the way the operator does
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/embeddings.parquet")
    val name = s"ivfpq_v2_${ModelStore.md5(s"$fp|4|16|31|1")}"
    // clear any artifact from prior runs so this run exercises COLD —
    // through the Hadoop FS, the same API the store uses
    val ap = new org.apache.hadoop.fs.Path(ModelStore.artifactPath(spark, name))
    val fs = ap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(ap, true)
    val cold = Similarity.ivfPqPersistedTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(ModelStore.isFitted(spark, name),
      "cold call must persist the model artifact")
    val warm = Similarity.ivfPqPersistedTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(warm == cold, "warm read-from-artifact must equal cold")
    val trained = Similarity.ivfPqTrainedTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(cold == trained,
      "the artifact is an execution shortcut, never a semantic input")
  }

  test("model store: honors a file:-scheme configured root; fingerprint tracks content") {
    import graft.sources.ModelStore
    val tmpRoot = java.nio.file.Files
      .createTempDirectory("graft_model_root_").toString
    val corpusCopy = java.nio.file.Files
      .createTempDirectory("graft_fp_corpus_").toString
    spark.conf.set("spark.graft.modelRoot", s"file:$tmpRoot")
    try {
      // artifacts land under the CONFIGURED root, written and read via
      // the Hadoop FS API (the cluster posture: swap file: for s3a:)
      val fp = ModelStore.corpusFingerprint(spark, s"$sf/embeddings.parquet")
      val name = s"ivfpq_v2_${ModelStore.md5(s"$fp|4|16|31|1")}"
      val viaRoot = Similarity.ivfPqPersistedTopK(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(tmpRoot, name, "_SUCCESS")),
        "artifact must be written under spark.graft.modelRoot")
      assert(ModelStore.isFitted(spark, name))
      // results are root-independent (same model, different shelf)
      val trained = Similarity.ivfPqTrainedTopK(spark, sf)
        .collect().map(_.toSeq).toSeq
      assert(viaRoot == trained)
      // staleness: rewriting the corpus (same path, new bytes) changes
      // the fingerprint, so the old artifact is never reused. The
      // rewrite changes the ROW COUNT (50 -> 60), so file sizes differ
      // — the assertion rides the size channel of the fingerprint and
      // never depends on the filesystem's mtime granularity
      val tbl = s"$corpusCopy/embeddings.parquet"
      Tables.embeddings(spark, sf).limit(50).write.parquet(tbl)
      val fp1 = ModelStore.corpusFingerprint(spark, tbl)
      assert(ModelStore.corpusFingerprint(spark, tbl) == fp1,
        "fingerprint must be stable across re-listings")
      Tables.embeddings(spark, sf).limit(60)
        .write.mode("overwrite").parquet(tbl)
      assert(ModelStore.corpusFingerprint(spark, tbl) != fp1,
        "regenerated data at the same path must re-key the artifact")
      // content anchor: an in-place first-block rewrite that keeps the
      // listing identical (same name, same size, restored mtime) still
      // re-keys — the externally-managed-table hazard from r12 ADVICE
      val anchored = java.nio.file.Paths.get(corpusCopy, "anchored")
      java.nio.file.Files.createDirectories(anchored)
      val f = anchored.resolve("data.bin")
      java.nio.file.Files.write(f, Array.fill[Byte](64)(1))
      val t0 = java.nio.file.Files.getLastModifiedTime(f)
      val fpA = ModelStore.corpusFingerprint(spark, anchored.toString)
      java.nio.file.Files.write(f, Array.fill[Byte](64)(2))
      java.nio.file.Files.setLastModifiedTime(f, t0) // same name+size+mtime
      assert(ModelStore.corpusFingerprint(spark, anchored.toString) != fpA,
        "first-block content anchor must catch an in-place rewrite")
    } finally {
      spark.conf.unset("spark.graft.modelRoot")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(corpusCopy))
    }
  }

  test("model store: crashed partial target self-heals; concurrent cold fitters both succeed") {
    import graft.sources.ModelStore
    import spark.implicits._
    val tmpRoot = java.nio.file.Files
      .createTempDirectory("graft_ms_atomic_").toString
    spark.conf.set("spark.graft.modelRoot", s"file:$tmpRoot")
    try {
      val df = (0L until 20L).map(i => (i, i * 2.0)).toDF("id", "v")
      val expected = df.collect().map(_.toSeq).toSet
      def tmpDirsLeft(): Seq[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(java.nio.file.Paths.get(tmpRoot))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.contains(".__tmp-")).toSeq
      }
      // CRASH SIMULATION: a target dir holding partial data but no
      // _SUCCESS — a publish that died mid-write. The next getOrFit
      // must treat it as absent, replace it wholesale, and serve the
      // fit result.
      val name = "atomic_crash_model"
      val partial = java.nio.file.Paths.get(tmpRoot, name)
      java.nio.file.Files.createDirectories(partial)
      java.nio.file.Files.write(partial.resolve("part-garbage.parquet"),
        Array[Byte](1, 2, 3))
      assert(!ModelStore.isFitted(spark, name),
        "no _SUCCESS => not fitted, regardless of stray bytes")
      val healed = ModelStore.getOrFit(spark, name)(df)
        .collect().map(_.toSeq).toSet
      assert(healed == expected, "self-healed artifact serves the fit result")
      assert(ModelStore.isFitted(spark, name))
      assert(!java.nio.file.Files.exists(partial.resolve("part-garbage.parquet")),
        "the partial dir must be replaced wholesale, not merged into")
      assert(tmpDirsLeft().isEmpty, s"temp dirs left behind: ${tmpDirsLeft()}")
      // CONCURRENT COLD FITTERS: two threads race the same key; both
      // must succeed with identical rows, exactly one artifact commits,
      // and the loser's temp dir is gone
      val name2 = "atomic_race_model"
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val outs = new java.util.concurrent.ConcurrentLinkedQueue[Set[Seq[Any]]]()
      val threads = (1 to 2).map { _ =>
        new Thread(() =>
          try outs.add(ModelStore.getOrFit(spark, name2)(df)
            .collect().map(_.toSeq).toSet)
          catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      import scala.jdk.CollectionConverters._
      assert(errs.isEmpty, s"concurrent getOrFit failed: ${errs.asScala.toSeq}")
      assert(outs.size == 2 && outs.asScala.toSet == Set(expected),
        "both racers must serve the identical committed artifact")
      assert(ModelStore.isFitted(spark, name2))
      assert(tmpDirsLeft().isEmpty,
        s"the losing racer must delete its temp dir: ${tmpDirsLeft()}")
    } finally {
      spark.conf.unset("spark.graft.modelRoot")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmpRoot))
    }
  }

  test("cluster quality: cohesion/separation recompute from the assignment") {
    val asg = Similarity.clusterAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap // vec -> cluster
    val out = Similarity.clusterQuality(spark, sf).collect()
    assert(out.map(_.getLong(0)).toSet == asg.values.toSet,
      "one row per inhabited cluster")
    val sizes = asg.values.groupBy(identity).map { case (c, v) => c -> v.size }
    out.foreach { r =>
      assert(r.getLong(1) == sizes(r.getLong(0)).toLong)
      // cohesion is a mean of cosines: bounded, and >= its own min
      assert(r.getDouble(2) <= 1.0001 && r.getDouble(2) >= r.getDouble(3),
        s"cluster ${r.getLong(0)} mean below min")
      assert(r.getDouble(4) <= 1.0001)
      // margin column is exactly the rounded difference
      assert(r.getDouble(5) == math.floor(
        (r.getDouble(2) - r.getDouble(4)) * 1e4 + 0.5) / 1e4)
    }
    // members sum to the corpus
    assert(out.map(_.getLong(1)).sum == asg.size.toLong)
    // every seed's own vector scores cos 1 with itself, so each seed's
    // cluster mean is pulled up: at least one cluster has mean > nn
    // separation (a fully unseparated clustering would be a bug)
    assert(out.exists(_.getDouble(5) > 0.0), "no cluster beats its neighbor")
  }

  test("nprobe sweep: recall and cost climb monotonically to the exact arm") {
    val rows = Similarity.nprobeSweep(spark, sf).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8, 16))
    // recall and scanned-pairs are monotone non-decreasing in nprobe
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(1) >= a.getLong(1), "hits fell as probes grew")
      assert(b.getLong(3) > a.getLong(3), "cost must strictly grow")
    }
    // the full-probe arm is exact: recall 1.0 and cost = (n-1) per query
    val n = Tables.embeddings(spark, sf).count()
    val last = rows.last
    assert(last.getDouble(2) == 1.0, "probing every cell must be exact")
    assert(last.getLong(3) == (n - 1) * Similarity.NQueries)
    // the nprobe=4 arm equals the registered recall eval's totals
    val evalHits = Similarity.annRecallEval(spark, sf).collect()
      .map(_.getLong(1)).sum
    assert(rows.find(_.getInt(0) == 4).get.getLong(1) == evalHits)
    // per-arm mean recall is the pinned ratio of its own hit count
    rows.foreach { r =>
      val want = math.floor(r.getLong(1).toDouble /
        (Similarity.NQueries * Similarity.K) * 1e4 + 0.5) / 1e4
      assert(r.getDouble(2) == want)
    }
  }

  test("LSH near-dup: perfect precision, bounded recall vs brute force") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val brute = a.crossJoin(b).filter(col("va") < col("vb"))
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.35)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupLsh(spark, sf)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute), "cosine-verified candidates can never be false positives")
    assert(brute.nonEmpty)
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.4, s"recall $recall (${lsh.size}/${brute.size})")
  }

  test("nearDupBlocked equals brute force at both test scales") {
    // semanticPairs' exact generator must EQUAL the all-pairs
    // predicate (every pair meets exactly once across block tiles), or
    // the emb_dedup_final oracle hash (label-free recursive CTE) would
    // break. Pin it at spec scale AND the correctness-gate scale.
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
      val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
      val brute = a.crossJoin(b).filter(col("va") < col("vb"))
        .withColumn("cos", cosine_sim(col("ea"), col("eb")))
        .filter(col("cos") >= 0.35)
        .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Similarity.nearDupBlocked(spark, dir)
        .select("va", "vb")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == brute,
        s"$dir: missed=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    }
    // and with a different block count (pair coverage is partition-
    // count invariant)
    val n5 = Similarity.nearDupBlocked(spark, sf, nBlocks = 5).count()
    assert(n5 == Similarity.nearDupBlocked(spark, sf).count())
  }

  test("hoisted-norm dot kernel is bit-identical to cosine_sim") {
    // the all-pairs scans score with dot_product / (vec_norm * vec_norm)
    // (norms hoisted to once per row); if that drifts from cosine_sim by
    // even one ulp, a tau-boundary pair could flip and break an oracle
    // hash — pin exact-double equality over every corpus pair shape
    import graft.functions.VectorFunctions.{dot_product, vec_norm}
    val e = Tables.embeddings(spark, sf).limit(150)
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val drifted = a.crossJoin(b).filter(col("va") < col("vb"))
      .select(cosine_sim(col("ea"), col("eb")).as("ref"),
        (dot_product(col("ea"), col("eb")) /
          (vec_norm(col("ea")) * vec_norm(col("eb")))).as("hoisted"))
      .filter(col("ref") =!= col("hoisted"))
    assert(drifted.count() == 0)
  }

  test("semanticDedup pair plan is label-free and block-balanced") {
    // traverse the tree rather than matching the (truncation-prone)
    // plan string
    val plan = Similarity.semanticPairs(spark, sf, tau = 0.35)
      .queryExecution.optimizedPlan
    // leaf scans list every parquet column in their output; what must
    // hold is that nothing ABOVE a scan consumes label (pruned, never
    // a join key) — the hot-label skew hazard is structurally absent
    val labelRefs = plan.collect { case p if p.children.nonEmpty =>
      p.expressions.flatMap(_.collect {
        case a: org.apache.spark.sql.catalyst.expressions.Attribute
          if a.name == "label" => a
      })
    }.flatten
    assert(labelRefs.isEmpty,
      "composition must not reference the label blocking column")
    // the join key is the uniform composite hash-block key, so per-key
    // volume is ~2n/nBlocks regardless of any data value
    val e = Tables.embeddings(spark, sf).count()
    val blockSizes = Tables.embeddings(spark, sf)
      .select(pmod(xxhash64(col("vec_id")), lit(16)).cast("int").as("blk"))
      .groupBy(col("blk")).count().collect().map(_.getLong(1))
    assert(blockSizes.max <= 2 * e / 16 + 16, "hash blocks are near-uniform")
  }

  test("semanticPairs dispatches by banding selectivity at tau") {
    def usesLsh(tau: Double): Boolean =
      Similarity.semanticPairs(spark, sf, tau).queryExecution.optimizedPlan
        .collect { case p => p.expressions.flatMap(_.collect {
          case _: graft.functions.VecSimHash => true
        }) }.flatten.nonEmpty
    // bench/oracle tau: banding is non-selective (design recall 15% at
    // the default config) -> the EXACT block-partitioned generator;
    // its hash-checked oracle stays valid
    assert(!usesLsh(0.35), "tau=0.35 must take the exact block join")
    // production near-dup tau: default (64, 8) banding is selective
    // (rand frac 3.1%, design recall 93.5%) -> the subquadratic LSH
    // banding IS the pair generator
    assert(usesLsh(0.9), "tau=0.9 must take the LSH banding")
    // the closed-form dispatch stats agree with the plans above
    val (fLow, rLow) = Similarity.lshPlanStats(0.35, 64, 8)
    val (fHigh, rHigh) = Similarity.lshPlanStats(0.9, 64, 8)
    assert(fLow == fHigh && fLow <= 0.05)
    assert(rLow < 0.9 && rHigh >= 0.9)
    // and the LSH-path result is a verified near-dup pair list: every
    // surfaced pair clears tau (precision 1.0 by the exact verify)
    val pairs = Similarity.nearDupLsh(spark, sf, tau = 0.9, nBits = 64,
      bands = 8).collect()
    assert(pairs.forall(_.getDouble(2) >= 0.9))
  }

  test("trained PQ: codes cover seeds' space, training lowers total recon error") {
    import spark.implicits._
    val seeded = Similarity.pqCodes(spark, sf).cache()
    val trained = Similarity.pqTrainedCodes(spark, sf).cache()
    try {
      // one row per vector either way; codes reference seed ids
      assert(trained.count() == seeded.count())
      val seedIds = Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 31 === 0)
        .select(col("vec_id")).as[Long].collect().toSet
      val usedCodes = trained.select(explode(array(col("code_0"),
        col("code_1"), col("code_2"), col("code_3"))).as("c"))
        .distinct().as[Long].collect().toSet
      assert(usedCodes.subsetOf(seedIds), "codes must be codeword ids")
      // the POINT of training: Lloyd's update minimizes summed squared
      // distance for the standing assignment, and reassignment only
      // improves it — total reconstruction error must not increase
      val eSeed = seeded.agg(sum(col("recon_err2"))).as[Double].head()
      val eTrained = trained.agg(sum(col("recon_err2"))).as[Double].head()
      assert(eTrained <= eSeed + 1e-6,
        s"training worsened reconstruction: $eTrained > $eSeed")
      assert(eTrained < eSeed, "training should strictly improve on raw seeds")
    } finally { seeded.unpersist(); trained.unpersist() }
  }

  test("paraphrasePairs pair source obeys the tau dispatch") {
    // the r9-verdict ask: the paraphrase composition must go through
    // semanticPairs, so production-tau runs (~0.9) take the
    // subquadratic LSH arm while the bench tau keeps the exact arm
    // (and with it the registered oracle hash)
    // (the verify pins the pair frame, so the pair source shows in the
    // plans the call runs, not in the result's own plan)
    def usesLsh(tau: Double): Boolean =
      PlanCapture.during(spark)(Similarity.paraphrasePairs(spark, sf, tau))
        .flatMap(_.collect { case p => p.expressions.flatMap(_.collect {
          case _: graft.functions.VecSimHash => true
        }) }).flatten.nonEmpty
    assert(!usesLsh(0.35),
      "bench tau must keep the exact block-join pair source")
    assert(usesLsh(0.9),
      "production tau must engage the LSH banding pair source")
    // bench-tau results are EXACTLY the direct-exact composition's
    // (the dispatch cannot have changed the registered query)
    val viaDispatch = Similarity.paraphrasePairs(spark, sf, tau = 0.35)
      .collect()
    assert(viaDispatch.nonEmpty)
    // the dispatch decision rides as provenance COLUMNS (r16 verdict
    // #8): arm + closed-form candidate fraction + design recall
    viaDispatch.foreach { r =>
      assert(r.getAs[String]("pair_arm") == "exact_blocked" &&
        r.getAs[Double]("cand_frac") == 0.0313 &&
        r.getAs[Double]("design_recall") == 0.1503)
    }
    Similarity.paraphrasePairs(spark, sf, tau = 0.9).collect().foreach { r =>
      assert(r.getAs[String]("pair_arm") == "lsh_banded",
        "production tau must declare the LSH arm in-band")
    }
  }

  test("mutualKnn dispatches to the IVF candidate generator past maxExact") {
    import org.apache.spark.sql.catalyst.expressions.Sequence
    // the exact arm is recognizable by its block-replication explode
    // (sequence(0, nBlocks-1)); the IVF arm has no Sequence anywhere.
    // Probe the ANALYZED plan — the optimizer constant-folds the
    // literal-bounded sequence into an array literal
    def usesBlocked(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collect { case p =>
        p.expressions.flatMap(_.collect { case _: Sequence => true })
      }.flatten.nonEmpty
    // probe the BUILDER's plan — the persisted artifact read hides the
    // arm choice from mutualKnn's own plan
    assert(usesBlocked(Similarity.mutualKnnBuild(spark, sf, Similarity.K,
      16, 100000L, 16, 4)),
      "below maxExact the dispatch must keep the exact blocked kernel")
    assert(!usesBlocked(Similarity.mutualKnnBuild(spark, sf, Similarity.K,
      16, 0L, 16, 4)),
      "past maxExact the IVF candidate generator must engage")
    val exact = Similarity.mutualKnn(spark, sf)
    val ivf = Similarity.mutualKnn(spark, sf, maxExact = 0L)
    // the production arm approximates the SAME graph: recall of the
    // exact mutual edges (subset does NOT hold by construction — a
    // missed candidate can promote a lesser neighbor into top-k, so
    // what's contractual is recall, as with every ANN index here)
    val t = exact.select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = ivf.select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t.nonEmpty)
    val recall = (t & g).size.toDouble / t.size
    assert(recall >= 0.6, s"mutual-graph recall $recall (${(t & g).size}/${t.size})")
    // shared edges carry the identical rounded cosine (both arms score
    // with the same hoisted-norm dot kernel)
    val tm = exact.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivf.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      tm.get(key).foreach(c => assert(c == r.getDouble(2), s"cos drift at $key"))
    }
  }

  test("knn graph artifact: cold == warm bit-identical, one build serves three queries") {
    import graft.sources.ModelStore
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/embeddings.parquet")
    val name = s"knng_v1_${ModelStore.md5(s"$fp|${Similarity.K}|16|100000|16|4")}"
    val ap = new org.apache.hadoop.fs.Path(ModelStore.artifactPath(spark, name))
    val fs = ap.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(ap, true)
    val cold = Similarity.mutualKnn(spark, sf).collect().map(_.toSeq).toSeq
    assert(ModelStore.isFitted(spark, name),
      "cold call must persist the edge-list artifact")
    val warm = Similarity.mutualKnn(spark, sf).collect().map(_.toSeq).toSeq
    assert(warm == cold, "warm read-from-artifact must equal cold")
    // the consumers draw the same graph: communities' edge set and
    // centrality's degrees must be derivable from the artifact rows
    val degs = cold.flatMap(r => Seq(r.head, r(1))).groupBy(identity)
      .map { case (k2, v) => k2 -> v.size.toLong }
    Similarity.centrality(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) == degs.getOrElse(r.getLong(0), 0L),
        s"vec ${r.getLong(0)} degree")
    }
  }

  test("rag retrieve: two-table split honored, scope pre-filters, recall vs scoped brute") {
    val rows = Similarity.ragRetrieveTopK(spark, sf).collect()
    assert(rows.nonEmpty)
    val all = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val labels = all.map(t => t._1 -> t._3).toMap
    rows.foreach { r =>
      val (qid, cid) = (r.getLong(0), r.getLong(2))
      // queries come only from the query table, hits only from the corpus
      assert(qid % 5 == 0 && qid < 50, s"non-query qid $qid")
      assert(cid % 5 != 0, s"corpus hit $cid is a query-table id")
      // the scope pre-filter: every hit shares its query's label
      assert(labels(cid) == labels(qid), s"out-of-scope hit $qid -> $cid")
    }
    // ranks dense from 1, cosine non-increasing per query
    rows.groupBy(_.getLong(0)).foreach { case (qid, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rs.length))
      val cs = sorted.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, s"q $qid order")
    }
    // recall vs the scoped brute-force truth (double-precision cosine is
    // rank-stable here): the index must find most true scoped neighbors
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val corpus = all.filter(_._1 % 5 != 0)
    val queries = all.filter(t => t._1 % 5 == 0 && t._1 < 50)
    val truth = queries.map { case (qid, qv, lab) =>
      qid -> corpus.filter(_._3 == lab)
        .map(c => (c._1, cos(qv, c._2)))
        .sortBy(t => (-t._2, t._1)).take(Similarity.K).map(_._1).toSet
    }.toMap
    val got = rows.groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val recalls = truth.map { case (q, t) =>
      (t & got.getOrElse(q, Set.empty)).size.toDouble / t.size }
    val mean = recalls.sum / recalls.size
    info(f"measured mean scoped recall $mean%.4f over ${recalls.size} queries")
    // floor pinned from measurement: 0.92 on this corpus after the
    // selectivity-aware probe widening (was 0.32 scope-blind at r12);
    // 0.8 leaves margin for fp ordering jitter without ever accepting
    // a scope-blind regression
    assert(mean >= 0.8, s"mean scoped recall $mean")
    // plan: no corpus broadcast — the scoped candidate probe is a hash
    // join keyed on (cell, label); broadcast sides are query-sized
    val plan = Similarity.ragRetrieveTopK(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"), "scoped probe must hash-join")
  }

  test("rag index artifact: cold fit == warm read bit-identically") {
    import graft.sources.ModelStore
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/embeddings.parquet")
    val cbName = s"ragcb_v1_${ModelStore.md5(s"rag|$fp|5|4|16|31|1")}"
    val idxName = s"ragidx_v1_${ModelStore.md5(s"ragidx|$fp|5|4|16|31|1|20")}"
    val hc = spark.sparkContext.hadoopConfiguration
    Seq(cbName, idxName).foreach { n =>
      val p = new org.apache.hadoop.fs.Path(ModelStore.artifactPath(spark, n))
      p.getFileSystem(hc).delete(p, true)
    }
    val cold = Similarity.ragRetrieveTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(ModelStore.isFitted(spark, cbName), "cold run must persist the codebook")
    assert(ModelStore.isFitted(spark, idxName),
      "cold run must persist the FULL index (cells + codes + labels)")
    val warm = Similarity.ragRetrieveTopK(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(warm == cold,
      "warm index read must serve byte-identical results to the cold fit")
  }

  test("rag index refresh: versioned log lifecycle — v0 base, v1 adds the delta, idempotent") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/embeddings.parquet")
    val key = ModelStore.md5(s"ragbase|$fp|4|16|31|1|20")
    val logPath = ModelStore.root(spark).stripPrefix("file:") +
      s"/ragidxlog_v1_$key"
    // fresh lifecycle: wipe the log and the base codebook artifact
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(logPath))
    val cbp = new org.apache.hadoop.fs.Path(
      ModelStore.artifactPath(spark, s"ragbasecb_v1_$key"))
    cbp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(cbp, true)
    val delta = Similarity.ragIndexRefresh(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(delta.nonEmpty &&
      delta.forall(_.head.asInstanceOf[Long] % 5 == 4),
      "the delta is exactly the arrival batch")
    // versioned reads: v0 time-travel = the base index only; latest =
    // base ∪ delta, with the delta rows byte-equal to the returned frame
    assert(SnapshotLog.latestVersion(logPath).contains(1),
      "refresh commits exactly one delta version")
    val v0 = SnapshotLog.read(spark, logPath, Some(0))
      .collect().map(_.toSeq).toSet
    val v1 = SnapshotLog.read(spark, logPath).collect().map(_.toSeq).toSet
    assert(v0.forall { r =>
      val m = r.head.asInstanceOf[Long] % 5; m != 0 && m != 4 },
      "v0 must hold only base rows")
    assert(v1 == v0 ++ delta,
      "latest must read base ∪ delta, nothing rewritten")
    // a reader pinned to v0 mid-refresh still serves the old index
    assert((v1 -- v0) == delta)
    // IDEMPOTENT: a rerun appends nothing and returns the same delta
    val delta2 = Similarity.ragIndexRefresh(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(delta2 == delta && SnapshotLog.latestVersion(logPath).contains(1),
      "a refresh rerun must not duplicate the delta")
  }

  test("rag index compact: tombstoned docs stop being served, pinned versions still see them, replay stable") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/embeddings.parquet")
    val key = ModelStore.md5(s"ragbase|$fp|4|16|31|1|20")
    val logPath = ModelStore.root(spark).stripPrefix("file:") +
      s"/ragidxlog_v1_$key"
    // fresh lifecycle: wipe the log (the codebook artifact may stay —
    // compact must work against a warm OR cold base fit)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(logPath))
    val audit = Similarity.ragIndexCompact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getInt(5)))
    assert(audit.nonEmpty && audit.exists(_._3),
      "the tombstone slice must be non-empty or the test is vacuous")
    audit.foreach { case (cid, sv0, tomb, svL, vL) =>
      assert(tomb == (cid % 9 == 4))
      assert(svL == !tomb, s"cid $cid: served_latest must be exactly " +
        "the non-tombstoned set")
      assert(sv0 == (cid % 5 != 4), s"cid $cid: v0 serves only the base")
      assert(vL == 2, "create + append + one tombstone merge = v2")
    }
    // RETRIEVAL-LEVEL erasure: serving the latest index can never
    // return a tombstoned doc — it is structurally absent from the
    // candidate set, not post-filtered
    val latestServe = Similarity.ragServeFromLog(spark, sf)
      .select("cid").collect().map(_.getLong(0))
    assert(latestServe.nonEmpty)
    assert(latestServe.forall(_ % 9 != 4),
      "a tombstoned doc must never be retrieved from the compacted index")
    // ... while a reader PINNED to the pre-delete version still
    // retrieves them (and the plant is meaningful: some tombstoned doc
    // genuinely ranked in the pre-delete top-k)
    val v1Serve = Similarity.ragServeFromLog(spark, sf, Some(1))
      .select("cid").collect().map(_.getLong(0))
    assert(v1Serve.exists(_ % 9 == 4),
      "pre-delete serving must still retrieve the later-tombstoned docs")
    // v0 pins all the way back to the base-only index
    val v0Serve = Similarity.ragServeFromLog(spark, sf, Some(0))
      .select("cid").collect().map(_.getLong(0))
    assert(v0Serve.nonEmpty && v0Serve.forall(_ % 5 != 4),
      "v0 serving must never surface an arrival")
    // IDEMPOTENT REPLAY: a rerun commits nothing and reports the same
    // audit frame at the same version
    val audit2 = Similarity.ragIndexCompact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getInt(5)))
    assert(audit2.toSeq == audit.toSeq &&
      SnapshotLog.latestVersion(logPath).contains(2),
      "a compact rerun must not commit a new version")
  }

  test("rag index sync: the feed drives tombstones and re-encodes; stale versions pin; replay stable") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/embeddings.parquet")
    val tag = s"$fp|20|19|6|17|3|23|7"
    val srcPath = ModelStore.root(spark).stripPrefix("file:") +
      s"/embsrc_v1_${ModelStore.md5(s"embsrc|$tag")}"
    val idxPath = ModelStore.root(spark).stripPrefix("file:") +
      s"/embidx_v1_${ModelStore.md5(s"embidx|$tag")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(srcPath))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    def run(): Seq[(Long, String, Int, Option[Long], Option[Long], Boolean, Boolean)] =
      Similarity.ragIndexSync(spark, sf).collect().toSeq.map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)),
          if (r.isNullAt(4)) None else Some(r.getLong(4)),
          r.getBoolean(5), r.getBoolean(6)))
    val got = run()
    // in-memory recompute: cell = argmax cosine over the fixed seeds,
    // ties to the smallest seed id (the assignToSeeds order)
    val es = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val mk = es.map(_._1).max
    val seeds = es.filter(_._1 < 20).map(t => (t._1, t._2)).sortBy(_._1)
    def cell(v: Array[Float]): Long =
      seeds.map { case (sid, sv) =>
        (graft.functions.VectorMath.cosArr(v, sv), sid) }
        .maxBy { case (c, sid) => (c, -sid) }._2
    val expect = (es.filter(_._1 % 19 == 6).map { case (k, v, l) =>
        (k, "delete", l, Some(cell(v)), None: Option[Long], true, false) } ++
      es.filter(t => t._1 % 17 == 3 && t._1 % 19 != 6).map { case (k, v, l) =>
        (k, "update", l, Some(cell(v)), Some(cell(v.map(x => -x))),
          true, true) } ++
      es.filter(_._1 % 23 == 7).map { case (k, v, l) =>
        (k + mk + 1, "insert", l, None: Option[Long], Some(cell(v)),
          false, true) }).sortBy(_._1).toSeq
    assert(expect.exists(_._2 == "delete") && expect.exists(_._2 == "update")
      && expect.exists(_._2 == "insert"),
      "every change class must be live in the fixture")
    assert(got == expect)
    // a re-encode genuinely moved at least one updated doc's cell, or
    // the cell_after column couldn't catch a skipped re-encode here
    assert(expect.exists(t => t._2 == "update" && t._4 != t._5),
      "at least one update must land in a different cell")
    // the index log: latest never serves a deleted cid; v0 still does
    val latestIdx = SnapshotLog.read(spark, idxPath)
      .select(col("cid")).collect().map(_.getLong(0)).toSet
    assert(expect.filter(_._2 == "delete").forall(t => !latestIdx(t._1)))
    assert(expect.filter(_._2 == "insert").forall(t => latestIdx(t._1)))
    val v0Idx = SnapshotLog.read(spark, idxPath, Some(0))
      .select(col("cid")).collect().map(_.getLong(0)).toSet
    assert(expect.filter(_._2 == "delete").forall(t => v0Idx(t._1)),
      "the pre-sync index version must still serve later-deleted docs")
    // replay: same audit, no new versions on either log
    assert(run() == expect &&
      SnapshotLog.latestVersion(srcPath).contains(1) &&
      SnapshotLog.latestVersion(idxPath).contains(1))
  }

  test("ann nndescent: equals the in-memory three-round descent; recall strictly improves over init; cold == warm") {
    val got = Similarity.nnDescent(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    // fit-once through ModelStore (the r16 verdict's #1 ask): the first
    // call above built/read the nndgraph artifact; this call must read
    // it warm and produce byte-identical rows — the artifact is an
    // execution shortcut, never a semantic input
    val warm = Similarity.nnDescent(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == warm,
      "nnDescent must serve from the persisted descent graph: cold == warm")
    val es = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val vecs = es.toMap
    val ids = es.map(_._1)
    val n = ids.max + 1
    def cos(a: Long, b: Long): Double =
      graft.functions.VectorMath.cosArr(vecs(a), vecs(b))
    val k = 12
    val init: Map[Long, Seq[Long]] = ids.map { v =>
      v -> (1 to k).map { j =>
        val c0 = (v * 2654435761L + j * 40503L) % n
        if (c0 == v) (c0 + 1) % n else c0
      }.distinct.toSeq
    }.toMap
    def round(g: Map[Long, Seq[Long]]): Map[Long, Seq[Long]] = {
      val und = g.toSeq.flatMap { case (v, cs) =>
        cs.flatMap(c => Seq((v, c), (c, v))) }.distinct
      val byV = und.groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2).distinct }
      ids.map { v =>
        val non = byV.getOrElse(v, Nil)
          .flatMap(u => byV.getOrElse(u, Nil)).filter(_ != v)
        val cands = (non ++ g.getOrElse(v, Nil)).distinct
        v -> cands.map(c => (c, cos(v, c)))
          .sortBy { case (c, s) => (-s, c) }.take(k).map(_._1)
      }.toMap
    }
    val g2 = round(round(round(init)))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = g2.toSeq.flatMap { case (v, cs) =>
      cs.map(c => (c, cos(v, c))).sortBy { case (c, s) => (-s, c) }
        .zipWithIndex.map { case ((c, s), i) => (v, i + 1, c, r4(s)) }
    }.sortBy(t => (t._1, t._2))
    assert(got == expect)
    // the point of the refinement: graph recall vs the exact k-NN
    // graph strictly improves over the pseudo-random init
    val exact = ids.map { v =>
      v -> ids.filter(_ != v).map(c => (c, cos(v, c)))
        .sortBy { case (c, s) => (-s, c) }.take(k).map(_._1).toSet
    }.toMap
    def recall(g: Map[Long, Seq[Long]]): Double =
      ids.map(v => g(v).toSet.intersect(exact(v)).size.toDouble / k)
        .sum / ids.length
    val (rInit, rFinal) = (recall(init), recall(g2))
    assert(rFinal >= 0.8 && rFinal > rInit + 0.5,
      s"descent must materially improve recall: init $rInit final $rFinal")
  }

  test("ann graph topk: equals the in-memory beam walk over the descent graph; recall floor vs brute; cold == warm") {
    val cold = Similarity.graphTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val warm = Similarity.graphTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(cold == warm, "persisted graph artifact must be an execution shortcut, never a semantic input")
    val es = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val vecs = es.toMap
    val ids = es.map(_._1)
    val n = ids.max + 1
    def cos(a: Long, b: Long): Double =
      graft.functions.VectorMath.cosArr(vecs(a), vecs(b))
    // the descent graph, exactly as the nndescent spec derives it
    val gk = 12
    val init: Map[Long, Seq[Long]] = ids.map { v =>
      v -> (1 to gk).map { j =>
        val c0 = (v * 2654435761L + j * 40503L) % n
        if (c0 == v) (c0 + 1) % n else c0
      }.distinct.toSeq
    }.toMap
    def round(g: Map[Long, Seq[Long]]): Map[Long, Seq[Long]] = {
      val und = g.toSeq.flatMap { case (v, cs) =>
        cs.flatMap(c => Seq((v, c), (c, v))) }.distinct
      val byV = und.groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2).distinct }
      ids.map { v =>
        val non = byV.getOrElse(v, Nil)
          .flatMap(u => byV.getOrElse(u, Nil)).filter(_ != v)
        val cands = (non ++ g.getOrElse(v, Nil)).distinct
        v -> cands.map(c => (c, cos(v, c)))
          .sortBy { case (c, s) => (-s, c) }.take(gk).map(_._1)
      }.toMap
    }
    val graph = round(round(round(init)))
    // the beam walk: 8 entries, 4 hops, beam 16, final top-5
    val (entries, hops, beamW, k) = (8, 4, 16, 5)
    val qids = ids.filter(_ < 10)
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = qids.flatMap { qid =>
      var beam: Seq[Long] = (1 to entries).map { j =>
        val c0 = (qid * 2654435761L + j * 40503L) % n
        if (c0 == qid) (c0 + 1) % n else c0
      }.distinct
      for (_ <- 1 to hops) {
        val cands = (beam.flatMap(c => graph.getOrElse(c, Nil)) ++ beam)
          .distinct.filter(_ != qid)
        beam = cands.map(c => (c, cos(qid, c)))
          .sortBy { case (c, s) => (-s, c) }.take(beamW).map(_._1)
      }
      beam.map(c => (c, cos(qid, c)))
        .sortBy { case (c, s) => (-s, c) }.take(k)
        .zipWithIndex.map { case ((c, s), i) => (qid, i + 1, c, r4(s)) }
    }.sortBy(t => (t._1, t._2))
    assert(cold == expect.toSeq)
    // quality: the walk must find what a full corpus scan finds
    val hits = qids.map { qid =>
      val truth = ids.filter(_ != qid).map(c => (c, cos(qid, c)))
        .sortBy { case (c, s) => (-s, c) }.take(k).map(_._1).toSet
      cold.filter(_._1 == qid).map(_._3).count(truth.contains).toDouble / k
    }
    val recall = hits.sum / qids.length
    assert(recall >= 0.8, s"graph search recall@5 vs brute: $recall")
  }

  test("ann graph prune: equals the in-memory RNG lune rule; degree drops, rank-1 always survives") {
    val got = Similarity.graphPrune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    // prune now reads graphTopK's persisted descent graph (same
    // ModelStore key) — a second call must be byte-identical (artifact
    // is an execution shortcut, never a semantic input), and the
    // in-memory rebuild below IS the prune-over-rebuild oracle.
    val warm = Similarity.graphPrune(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getInt(4))).toSeq
    assert(got == warm, "prune over persisted artifact must equal prune over rebuild")
    val es = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val vecs = es.toMap
    val ids = es.map(_._1)
    val n = ids.max + 1
    def cos(a: Long, b: Long): Double =
      graft.functions.VectorMath.cosArr(vecs(a), vecs(b))
    // the descent graph, exactly as the nndescent spec derives it
    val gk = 12
    val init: Map[Long, Seq[Long]] = ids.map { v =>
      v -> (1 to gk).map { j =>
        val c0 = (v * 2654435761L + j * 40503L) % n
        if (c0 == v) (c0 + 1) % n else c0
      }.distinct.toSeq
    }.toMap
    def round(g: Map[Long, Seq[Long]]): Map[Long, Seq[Long]] = {
      val und = g.toSeq.flatMap { case (v, cs) =>
        cs.flatMap(c => Seq((v, c), (c, v))) }.distinct
      val byV = und.groupBy(_._1)
        .map { case (v, ps) => v -> ps.map(_._2).distinct }
      ids.map { v =>
        val non = byV.getOrElse(v, Nil)
          .flatMap(u => byV.getOrElse(u, Nil)).filter(_ != v)
        val cands = (non ++ g.getOrElse(v, Nil)).distinct
        v -> cands.map(c => (c, cos(v, c)))
          .sortBy { case (c, s) => (-s, c) }.take(gk).map(_._1)
      }.toMap
    }
    val graph = round(round(round(init)))
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the RNG lune rule over each node's ranked candidates: drop c if
    // some ranked-closer u has cos(u, c) > cos(v, c)
    val expect = ids.flatMap { v =>
      val ranked = graph(v).map(c => (c, cos(v, c)))
        .sortBy { case (c, s) => (-s, c) }
      val kept = ranked.zipWithIndex.filter { case ((c, s), i) =>
        !ranked.take(i).exists { case (u, _) => cos(u, c) > s }
      }
      kept.zipWithIndex.map { case (((c, s), wasIdx), newIdx) =>
        (v, newIdx + 1, c, r4(s), wasIdx + 1) }
    }.sortBy(t => (t._1, t._2)).toSeq
    assert(got == expect)
    // structural contracts: rank-1 survives everywhere, pruning is
    // real, kept edges are a subset of the descent graph
    assert(ids.forall(v => got.exists(t => t._1 == v && t._5 == 1)),
      "rank-1 must be unoccludable")
    val before = ids.map(v => graph(v).size).sum
    assert(got.size < before, "the lune rule must actually prune")
    assert(got.forall(t => graph(t._1).contains(t._3)),
      "pruned graph must be a subgraph of the descent graph")
    info(s"edges $before -> ${got.size} " +
      f"(mean degree ${before.toDouble / ids.length}%.1f -> " +
      f"${got.size.toDouble / ids.length}%.1f)")
  }

  test("rag mmr rerank: equals the in-memory greedy MMR trajectory over the retrieved list") {
    val retrieved = Similarity.ragRetrieveTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val embMap = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    // Spark round(x, 4) is BigDecimal HALF_UP — replicate it exactly
    def r4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Similarity.ragMmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4)))
    assert(got.nonEmpty)
    retrieved.groupBy(_._1).foreach { case (qid, cands0) =>
      val cands = cands0.map(t => (t._2, t._3)).toSeq
      def sim(a: Long, b: Long) = r4(cos(embMap(a), embMap(b)))
      var sel = List.empty[(Long, Double, Double)]
      for (_ <- 1 to math.min(3, cands.length)) {
        val remaining = cands.filterNot(c => sel.exists(_._1 == c._1))
        val scored = remaining.map { case (cid, rel) =>
          val ms = if (sel.isEmpty) 0.0 else sel.map(s => sim(cid, s._1)).max
          (cid, rel, 0.5 * rel - 0.5 * ms)
        }
        sel = sel :+ scored.maxBy(t => (t._3, -t._1))
      }
      val want = sel.zipWithIndex.map { case ((cid, rel, sc), i) =>
        (qid, i + 1, cid, rel, math.floor(sc * 1e4 + 0.5) / 1e4) }
      val gotQ = got.filter(_._1 == qid).sortBy(_._2).toList
      assert(gotQ == want, s"qid $qid MMR trajectory: got $gotQ want $want")
    }
    // the redundancy penalty is real on this corpus: at least one query's
    // MMR selection departs from the plain relevance top-3
    val plainTop3 = retrieved.groupBy(_._1).map { case (q, cs) =>
      q -> cs.sortBy(t => (-t._3, t._2)).take(3).map(_._2).toSeq }
    val mmrSel = got.groupBy(_._1).map { case (q, rs) =>
      q -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(mmrSel.exists { case (q, sel) => plainTop3(q) != sel },
      "MMR never diverged from plain top-3 — the penalty is vacuous here")
  }

  test("rag context pack: greedy budget fill equals in-memory recompute; truncation engages") {
    val mmr = Similarity.ragMmrRerank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val nTok = Tables.documents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).length).toMap
    val got = Similarity.ragContextPack(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    val want = mmr.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      var cum = 0L
      rows.sortBy(_._2).map { case (_, rk, cid) =>
        val n = nTok(cid)
        val kept = math.max(0L, math.min(n.toLong, 128L - cum))
        cum += n
        (qid, rk, cid, n, cum, kept, kept == n.toLong)
      }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want, "pack trajectory diverges from recompute")
    // the budget is binding on this corpus: the first selection always
    // fits whole (max doc 99 < 128) and some later selection truncates
    assert(got.filter(_._2 == 1).forall(_._7), "a first pick failed to pack")
    assert(got.exists(r => !r._7), "no truncation anywhere — budget vacuous")
  }

  test("rag recall eval: per-query recall/MRR equal the in-memory grade of the retrieved list") {
    val all = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val corpus = all.filter(_._1 % 5 != 0)
    val queries = all.filter(t => t._1 % 5 == 0 && t._1 < 50)
    val truth = queries.map { case (qid, qv, lab) =>
      qid -> corpus.filter(_._3 == lab)
        .map(c => (c._1, cos(qv, c._2)))
        .sortBy(t => (-t._2, t._1)).take(Similarity.K).map(_._1).toSet
    }.toMap
    val retrieved = Similarity.ragRetrieveTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val rows = Similarity.ragRecallEval(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == queries.map(_._1).sorted.toSeq,
      "one grade row per query, in order")
    rows.foreach { r =>
      val qid = r.getLong(0)
      val mine = retrieved.filter(_._1 == qid).sortBy(_._2)
      val hitRks = mine.filter(m => truth(qid).contains(m._3)).map(_._2)
      assert(r.getLong(1) == hitRks.length.toLong, s"q $qid n_hit")
      assert(r.getDouble(2) == hitRks.length.toDouble / Similarity.K,
        s"q $qid recall")
      val mrr = if (hitRks.isEmpty) 0.0 else 1.0 / hitRks.min
      assert(r.getDouble(3) == mrr, s"q $qid mrr")
    }
    // consistency with the retrieval spec's pinned floor: the operator
    // reports the same corpus-mean scoped recall the rag test measures
    val mean = rows.map(_.getDouble(2)).sum / rows.length
    info(f"operator-reported mean scoped recall $mean%.4f")
    assert(mean >= 0.8)
  }

  test("rag ndcg eval: equals in-memory graded-relevance recompute; order sensitivity real") {
    val all = Tables.embeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val corpus = all.filter(_._1 % 5 != 0)
    val queries = all.filter(t => t._1 % 5 == 0 && t._1 < 50)
    val k = Similarity.K
    // scoped exact ranking -> graded relevance
    val rels = queries.map { case (qid, qv, lab) =>
      qid -> corpus.filter(_._3 == lab)
        .map(c => (c._1, cos(qv, c._2)))
        .sortBy(t => (-t._2, t._1)).take(k).zipWithIndex
        .map { case ((cid, _), i) => cid -> (k - i).toLong }.toMap
    }.toMap
    val retrieved = Similarity.ragRetrieveTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val rows = Similarity.ragNdcgEval(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == queries.map(_._1).sorted.toSeq)
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    rows.foreach { r =>
      val qid = r.getLong(0)
      val mine = retrieved.filter(_._1 == qid).sortBy(_._2)
      val nHit = mine.count(m => rels(qid).contains(m._3))
      val dcg = mine.map { case (_, rk, cid) =>
        rels(qid).getOrElse(cid, 0L).toDouble / log2(rk + 1.0) }
        .sum.toFloat.toDouble
      val idcg = rels(qid).values.toSeq.sorted.reverse.zipWithIndex
        .map { case (rel, i) => rel.toDouble / log2(i + 2.0) }
        .sum.toFloat.toDouble
      assert(r.getLong(1) == nHit.toLong, s"q $qid n_hit")
      assert(r.getDouble(2) ==
        math.floor(dcg / idcg * 10000.0 + 0.5) / 10000.0, s"q $qid ndcg")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
    // the grade is order-sensitive for real: some query retrieves all
    // true neighbors (recall 1) yet ndcg < 1 (wrong order), or misses
    // some (ndcg necessarily < 1) — either way not all-1.0
    assert(rows.exists(_.getDouble(2) < 1.0),
      "every ndcg is 1.0 — the eval cannot see ranking error here")
  }

  test("semantic communities: equals in-memory LPA over the mutual-kNN graph") {
    val rows = Similarity.semanticCommunities(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == n, "every vector gets a community")
    // recompute the full composition in memory: mutual-kNN edges (the
    // already-pinned operator), then 3 rounds of deterministic
    // semi-synchronous LPA (self-vote, most-frequent label, ties to
    // the smallest label)
    val edges = Similarity.mutualKnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (s, es) => s -> es.map(_._2).toSeq }
    val ids = rows.map(_.getLong(0))
    var lab = ids.map(i => i -> i).toMap
    for (_ <- 1 to 3) {
      lab = ids.map { v =>
        val votes = (adj.getOrElse(v, Seq.empty).map(lab) :+ lab(v))
          .groupBy(identity).map { case (l, o) => l -> o.size }
        v -> votes.toSeq.map { case (l, c) => (-c, l) }.min._2
      }.toMap
    }
    rows.foreach { r =>
      assert(r.getLong(1) == lab(r.getLong(0)),
        s"community drift at vec ${r.getLong(0)}")
      assert(r.getLong(2) == lab.values.count(_ == lab(r.getLong(0))),
        s"community_size drift at vec ${r.getLong(0)}")
    }
    // the clustering is non-degenerate: more than one community, and
    // at least one genuinely multi-member community
    val comms = rows.map(_.getLong(1)).distinct
    assert(comms.length > 1 && rows.exists(_.getLong(2) > 1))
  }

  test("binary ANN: shortlist+rerank equals in-memory recompute, recall clears floor") {
    val rows = Similarity.binaryTopK(spark, sf).collect()
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // stage 1 recompute: sign signatures + hamming + (hd, cid) shortlist
    def sig(v: Array[Float]): (Long, Long) = {
      var lo = 0L; var hi = 0L
      (0 until 32).foreach(i => if (v(i) > 0) lo |= (1L << i))
      (32 until 64).foreach(i => if (v(i) > 0) hi |= (1L << (i - 32)))
      (lo, hi)
    }
    val sigs = embs.map { case (id, v) => id -> sig(v) }.toMap
    val em = embs.toMap
    def hd(a: (Long, Long), b: (Long, Long)): Int =
      java.lang.Long.bitCount(a._1 ^ b._1) + java.lang.Long.bitCount(a._2 ^ b._2)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until 64).foreach { i =>
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    (0L until 10L).foreach { q =>
      val short = embs.map(_._1).filter(_ != q)
        .map(c => (hd(sigs(c), sigs(q)), c)).sorted.take(50)
      val got = rows.filter(_.getLong(0) == q).sortBy(_.getInt(1))
      assert(got.length == 5, s"q$q must return k rows")
      // stage 2: the returned rows are exactly the top-5 by cosine
      // WITHIN the shortlist, each carrying its stage-1 distance
      val rerank = short.map { case (d, c) => (cos(em(c), em(q)), c, d) }
        .sortBy(x => (-x._1, x._2)).take(5)
      got.zip(rerank).foreach { case (r, (wc, cid, whd)) =>
        assert(r.getLong(2) == cid, s"q$q rank ${r.getInt(1)}")
        assert(r.getLong(3) == whd.toLong)
        // cos_sim is rounded to 4 decimals — half-width tolerance
        assert(math.abs(r.getDouble(4) - wc) <= 5.1e-5)
      }
    }
    // the POINT of the two-stage shape: reranked recall far above the
    // raw-hamming ranking (measured 0.16 here), approaching exact
    val truth = Similarity.bruteTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = rows.map(r => (r.getLong(0), r.getLong(2))).count(truth.contains)
    val recall = hits.toDouble / truth.size
    assert(recall >= 0.4, s"two-stage recall@5 $recall vs exact")
  }

  test("semantic centrality: equals in-memory quantized PageRank, partitioning-invariant") {
    val rows = Similarity.centrality(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == n)
    // recompute the whole trajectory in memory with the same dyadic
    // quantization: contributions floor to 2^-24 multiples, sum as
    // longs, update 0.25 + 0.75*m
    val edges = Similarity.mutualKnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val sym = edges ++ edges.map(_.swap)
    val deg = sym.groupBy(_._1).map { case (s, es) => s -> es.length }
    val ids = rows.map(_.getLong(0))
    val Q = 16777216.0
    var r = ids.map(i => i -> 1.0).toMap
    for (_ <- 1 to 6) {
      val inbound = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _) =>
          math.floor(r(s) / deg(s) * Q + 0.5).toLong }.sum / Q }
      r = ids.map(i => i -> (0.25 + 0.75 * inbound.getOrElse(i, 0.0))).toMap
    }
    rows.foreach { row =>
      val id = row.getLong(0)
      assert(row.getLong(1) == deg.getOrElse(id, 0), s"degree at $id")
      val want = math.floor(r(id) * 10000.0 + 0.5) / 10000.0
      assert(row.getDouble(2) == want, s"pr at $id: ${row.getDouble(2)} vs $want")
    }
    // hubs rank above isolates: centrality must correlate with degree
    // in aggregate (the selection signal the operator exists for)
    val hubs = rows.filter(_.getLong(1) >= 3).map(_.getDouble(2))
    val lone = rows.filter(_.getLong(1) == 0).map(_.getDouble(2))
    if (hubs.nonEmpty && lone.nonEmpty)
      assert(hubs.sum / hubs.length > lone.sum / lone.length)
    // the dyadic grid makes the trajectory partitioning-invariant
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      val alt = Similarity.centrality(spark, sf).collect()
      assert(rows.map(_.toSeq).toSeq == alt.map(_.toSeq).toSeq,
        "centrality drifted across shuffle partitionings")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("lshContractChecked: one row, verdicts true, n_true matches brute") {
    val r = Similarity.lshContractChecked(spark, sf).collect()
    assert(r.length == 1)
    val e = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val brute = a.crossJoin(b).filter(col("va") < col("vb"))
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.35).count()
    assert(r.head.getLong(0) == brute, "n_true must equal brute force")
    assert(r.head.getBoolean(1) && r.head.getBoolean(2) && r.head.getBoolean(3))
    // the adaptive-plan provenance rides the verdict row (and the
    // registered oracle restates it closed-form): spec scale sits at
    // the design point of the default (32, 8) config
    assert(r.head.getAs[String]("lsh_arm") == "lsh_banded" &&
      r.head.getAs[Int]("lsh_r") == 4 && r.head.getAs[Int]("lsh_bands") == 8)
  }

  test("nearDupLshPlan: design point, widened bands, exact dispatch") {
    // design point: small corpora keep the configured slicing untouched
    assert(Similarity.nearDupLshPlan(200L, 0.35, 32, 8) ==
      (("lsh_banded", 4, 8)))
    assert(Similarity.nearDupLshPlan(2000L, 0.35, 32, 8) ==
      (("lsh_banded", 4, 8)))
    // the r17 scale wall: 200k vectors at tau=0.35 — the recall-budget-
    // saturating width is only r*=6 (p=0.614 decays fast), and its 23
    // bands admit 36% of RANDOM pairs: unselective, so the plan
    // dispatches the uniform blocked-exact generator instead of the
    // 182x LSH curve
    val (arm, r, needed) = Similarity.nearDupLshPlan(200000L, 0.35, 32, 8)
    assert(arm == "exact_blocked" && r == 6 && needed == 23,
      s"got ($arm, $r, $needed)")
    // production near-dup tau: the plan saturates the band budget at
    // the WIDEST viable key (cost ~ bands * n^2 / 2^r shrinks as
    // (1/(2p))^r, so widest-that-fits wins): r*=16 with 32 bands holds
    // the (64, 8) config's 0.935 design recall at 0.05% random
    // candidate fraction
    val (arm9, r9, b9) = Similarity.nearDupLshPlan(2000000L, 0.9, 64, 8)
    assert(arm9 == "lsh_banded" && r9 == 16 && b9 == 32,
      s"got ($arm9, $r9, $b9)")
    // and the plan's dispatch agrees with what nearDupLsh executes: the
    // exact arm's plan has no VecSimHash, the banded arm's does
    def usesSimhash(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan
        .collect { case p => p.expressions.flatMap(_.collect {
          case _: graft.functions.VecSimHash => true }) }
        .flatten.nonEmpty
    assert(usesSimhash(Similarity.nearDupLsh(spark, sf)))
    assert(!usesSimhash(
      Similarity.nearDupLsh(spark, sf, targetOcc = 4, maxBands = 4)))
  }

  test("widened seeded-band LSH arm: subset of brute, recall holds") {
    import spark.implicits._
    // the widened arm engages at PRODUCTION tau (loose tau correctly
    // dispatches exact under the selectivity criterion), so the spec
    // plants a corpus with true 0.9-pairs: 100 base vectors each with
    // a near-identical twin (tiny deterministic perturbation) + 300
    // fillers; targetOcc=1 forces widening at n=500, where the plan
    // saturates the band budget at r=9 (ceil(log2 n)) with 10 seeded
    // bands (design recall 0.94 at tau 0.9)
    def vec(seed: Long): Array[Float] = Array.tabulate(16) { j =>
      ((graft.functions.TextHash.mix64(seed * 131L + j) % 2001L)
        / 1000.0f)
    }
    val rows =
      (0L until 100L).flatMap { i =>
        val base = vec(i)
        val twin = base.zipWithIndex.map { case (x, j) =>
          x + (if (j % 5 == 0) 0.02f else 0.0f) }
        Seq((i, base), (i + 1000L, twin))
      } ++ (0L until 300L).map(i => (i + 5000L, vec(i + 77777L)))
    val tmp = "target/tmp-sources/widenedlsh"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    rows.toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
      .write.parquet(s"$tmp/embeddings.parquet")
    val (arm, r, bands) =
      Similarity.nearDupLshPlan(rows.size, 0.9, 64, 8, targetOcc = 1)
    assert(arm == "lsh_banded" && r == 9 && bands == 10,
      s"got ($arm, $r, $bands)")
    val e = Tables.embeddings(spark, tmp)
      .select(col("vec_id"), col("embedding"))
    val a = e.select(col("vec_id").as("va"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("vb"), col("embedding").as("eb"))
    val brute = a.crossJoin(b).filter(col("va") < col("vb"))
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.9)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.size >= 100, s"corpus must hold planted 0.9-pairs: ${brute.size}")
    val widened = Similarity
      .nearDupLsh(spark, tmp, tau = 0.9, nBits = 64, bands = 8,
        targetOcc = 1)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(widened.subsetOf(brute),
      "verified candidates can never be false positives")
    val recall = widened.size.toDouble / brute.size
    assert(recall >= 0.7, s"widened-arm recall $recall (design 0.94)")
    // independent seeded families genuinely differ from the sliced
    // signature: seed 0 reproduces the original kernel bit-for-bit,
    // any other seed draws a different plane set
    val v = org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(Array.fill(8)(0.37f))
    assert(graft.functions.VectorMath.simhashVec(v, 16) ==
      graft.functions.VectorMath.simhashVecSeeded(v, 16, 0L))
    assert(graft.functions.VectorMath.simhashVecSeeded(v, 16, 1L) !=
      graft.functions.VectorMath.simhashVecSeeded(v, 16, 2L))
  }

  test("salted nearDup equals the unsalted label join; hot label spreads") {
    import spark.implicits._
    // planted hot label: 60 vectors, all one label -> 60*59/2 raw pairs
    // in a single block if unsalted
    val hot = (0L until 60L)
      .map(i => (i, "hot", Array.fill(4)(if (i % 2 == 0) 1.0f else 0.9f)))
      .toDF("vec_id", "label", "embedding")
    val a = hot.select(col("label"), col("vec_id").as("va"), col("embedding").as("ea"))
    val b = hot.select(col("label"), col("vec_id").as("vb"), col("embedding").as("eb"))
    val unsalted = a.join(b, Seq("label")).filter(col("va") < col("vb"))
      .withColumn("cos", cosine_sim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.35)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Similarity.nearDupPairs(a, b, tau = 0.35, nSalts = 8)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == unsalted, "salting must not change the pair set")
    assert(unsalted.size == 60 * 59 / 2, "planted label is all-pairs similar")
    // the join key carries the salt, so the hot label's fan-out is
    // spread over nSalts reducer partitions instead of one
    val plan = Similarity.nearDupPairs(a, b, 0.35, 8)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("_salt"), "join must be salted")
  }

  test("near-dup pairs are above threshold and ordered") {
    val rows = Similarity.nearDup(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.35)
    }
  }

  test("l2_dist matches hand computation and rejects mixed types") {
    import spark.implicits._
    import graft.functions.VectorFunctions.l2_dist
    val d = Seq((Array(1.0f, 2.0f, 2.0f), Array(0.0f, 0.0f, 0.0f)))
      .toDF("a", "b").select(l2_dist(col("a"), col("b"))).head().getDouble(0)
    assert(d == 3.0)
    // analysis is eager in select(), so the throw happens there
    assertThrows[org.apache.spark.sql.AnalysisException] {
      Seq((Array(1.0f), Array(1.0)))
        .toDF("a", "b").select(l2_dist(col("a"), col("b"))).collect()
    }
  }

  test("semanticDedup: clusters consistent with the exact pair list") {
    val rows = Similarity.semanticDedup(spark, sf).collect()
    assert(rows.nonEmpty)
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getBoolean(2) == (r.getLong(0) == r.getLong(1)),
        "survivor iff representative")
      assert(cluster(r.getLong(1)) == r.getLong(1),
        "a cluster id must be its own representative")
    }
    // every exact near-dup pair landed in one cluster
    Similarity.nearDup(spark, sf).collect().foreach { p =>
      assert(cluster(p.getLong(0)) == cluster(p.getLong(1)),
        s"pair ${p.getLong(0)},${p.getLong(1)} split across clusters")
    }
  }

  test("PQ codes reference real seeds; a seed reconstructs itself exactly") {
    val rows = Similarity.pqCodes(spark, sf).collect()
    assert(rows.nonEmpty)
    val seeds = rows.map(_.getLong(0)).filter(_ % 31 == 0).toSet
    assert(seeds.nonEmpty)
    rows.foreach { r =>
      (1 to 4).foreach(i => assert(seeds.contains(r.getLong(i)),
        s"vec ${r.getLong(0)}: code ${r.getLong(i)} is not a seed id"))
      assert(r.getDouble(5) >= 0.0)
      // a codeword is its own nearest codeword in every subspace
      if (seeds.contains(r.getLong(0))) {
        (1 to 4).foreach(i => assert(r.getLong(i) == r.getLong(0),
          s"seed ${r.getLong(0)} quantized to ${r.getLong(i)}"))
        assert(r.getDouble(5) == 0.0)
      }
    }
  }

  test("ivfPqTopK: full probes + corpus-wide rerank degrade to exact brute force") {
    // with every cell probed and a rerank cut wider than the corpus,
    // the ADC stage selects everything and the exact re-rank IS brute
    // force — the quantization error can only hide inside the cut
    val n = Tables.embeddings(spark, sf).count().toInt
    val exact = Similarity.bruteTopK(spark, sf).collect().map(_.toSeq)
    val full = Similarity.ivfPqTopK(spark, sf, nProbe = 16, rerank = n)
      .collect().map(_.toSeq)
    assert(full.nonEmpty && full.sameElements(exact))
  }

  test("diversitySample matches in-memory greedy k-center; coverage curve monotone") {
    val vecs = Tables.embeddings(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    var centers = Vector(0L)
    var ms = (vecs - 0L).map { case (id, v) => id -> cos(v, vecs(0L)) }
    val expect = Vector(0L) ++ (2 to 8).map { _ =>
      val pick = ms.minBy { case (id, s) => (s, id) }._1
      centers :+= pick
      ms = (ms - pick).map { case (id, s) =>
        id -> math.max(s, cos(vecs(id), vecs(pick))) }
      pick
    }
    val rows = Similarity.diversitySample(spark, sf, nCenters = 8)
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getLong(1)).sameElements(expect))
    val curve = rows.drop(1).map(_.getDouble(2))
    assert(curve.zip(curve.tail).forall { case (a, b) => a <= b },
      s"coverage curve not monotone: ${curve.mkString(",")}")
    assert(rows.map(_.getLong(1)).distinct.length == rows.length)
  }

  test("dedupDiversitySample picks only exact-dedup survivors, k distinct picks") {
    import org.apache.spark.sql.functions.{md5, min => fmin}
    val survivors = Tables.documents(spark, sf)
      .groupBy(md5(col("text").cast("binary")))
      .agg(fmin(col("doc_id")).as("s"))
      .select(col("s")).collect().map(_.getLong(0)).toSet
    val rows = Similarity.dedupDiversitySample(spark, sf, nCenters = 8).collect()
    assert(rows.length == 8)
    val picks = rows.map(_.getLong(1))
    assert(picks.distinct.length == picks.length)
    picks.foreach(p => assert(survivors.contains(p),
      s"pick $p is not an exact-dedup survivor"))
    // seeded at the minimum surviving id
    assert(rows.minBy(_.getInt(0)).getLong(1) == survivors.min)
  }

  test("outliers: one row per vector, z standardized, flags match the z column") {
    val rows = Similarity.outliers(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == n)
    val zs = rows.map(_.getDouble(2))
    assert(math.abs(zs.sum / zs.length) < 1e-3) // standardized: mean ~ 0
    assert(math.abs(zs.map(z => z * z).sum / zs.length - 1.0) < 1e-2)
    rows.foreach { r =>
      assert(r.getBoolean(3) == (r.getDouble(2) > 2.0),
        s"flag disagrees with z at vec ${r.getLong(0)}")
    }
    assert(rows.count(_.getBoolean(3)) > 0) // the corpus has a tail
  }

  test("quantizeInt8: codes bounded, reconstruction error within half a grid step") {
    val rows = Similarity.quantizeInt8(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    assert(rows.length == n)
    val dims = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    rows.foreach { r =>
      val codeSum = r.getLong(1)
      assert(codeSum >= 0 && codeSum <= 255L * dims,
        s"code sum $codeSum outside [0, ${255 * dims}]")
      // nearest-code snap: per-dim error <= scale/2, so L2 over dims is
      // bounded by sqrt(dims) * max_err and max_err itself is small
      assert(r.getDouble(3) >= 0)
      assert(r.getDouble(2) <= math.sqrt(dims.toDouble) * r.getDouble(3) + 1e-4,
        s"l2 ${r.getDouble(2)} incompatible with max ${r.getDouble(3)}")
    }
    // quantization must actually compress: some error exists somewhere
    assert(rows.exists(_.getDouble(2) > 0))
  }

  test("drift: one row per dim, z symmetric under slice swap, flags match |z|") {
    val rows = Similarity.drift(spark, sf).collect()
    val dims = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    assert(rows.length == dims)
    rows.foreach { r =>
      assert(r.getBoolean(4) == (math.abs(r.getDouble(3)) > 3.0) ||
        math.abs(math.abs(r.getDouble(3)) - 3.0) < 1e-3,
        s"flag disagrees with z at dim ${r.getInt(0)}")
    }
    // the even/odd halves of one corpus should NOT mostly drift: a
    // z-scale regression would flag everything
    assert(rows.count(_.getBoolean(4)) < dims / 4,
      "same-corpus halves flagged as drifted — z is mis-scaled")
  }

  test("pcaPower: unit-norm loadings, eigval dominates per-dim variance") {
    val rows = Similarity.pcaPower(spark, sf).collect()
    val dims = Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.col("embedding"))).head().getInt(0)
    assert(rows.length == dims)
    val norm2 = rows.map(r => r.getDouble(1) * r.getDouble(1)).sum
    assert(math.abs(norm2 - 1.0) < 1e-3, s"loadings not unit norm: $norm2")
    val eig = rows.head.getDouble(2)
    assert(rows.forall(_.getDouble(2) == eig), "eigval must be constant")
    // the top eigenvalue is at least the variance along any axis, i.e.
    // at least the max diagonal covariance entry; weak but direction-
    // free sanity: it must be positive for non-degenerate data
    assert(eig > 0)
  }

  test("filtered topk: hits share the query's label and the filter binds") {
    val rows = Similarity.filteredTopK(spark, sf).collect()
    val lab = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == lab(r.getLong(0)), "query label column")
      // PRE-filter semantics: no hit may escape the predicate
      assert(lab(r.getLong(3)) == lab(r.getLong(0)), "candidate label")
    }
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to sorted.length))
      val sc = sorted.map(_.getDouble(4))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
    }
    // the filter genuinely binds: some unfiltered top-1 neighbor carries
    // a different label than its query, so post-filtering an unfiltered
    // top-k would have returned (then dropped) it
    val brute = Similarity.bruteTopK(spark, sf).collect()
      .filter(_.getInt(1) == 1)
    assert(brute.exists(r => lab(r.getLong(2)) != lab(r.getLong(0))))
  }

  test("rq codes: stage 2 never worsens, seeds exact, improvement real") {
    val rows = Similarity.rqCodes(spark, sf).collect()
    assert(rows.length == Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val (id, e1, e2) = (r.getLong(0), r.getDouble(3), r.getDouble(4))
      // the zero-residual codeword (vec 0 is in both seed sets) makes
      // stage 2 a strict refinement: err2 <= err1 for EVERY vector
      assert(e2 <= e1 + 1e-9, s"vec $id: $e2 > $e1")
      // a stage-1 seed reproduces itself exactly
      if (id % 31 == 0) assert(e1 == 0.0, s"seed $id err1 $e1")
      // `improved` is consistent with its own error columns (modulo
      // the 1e-4 output rounding collapsing a sub-rounding gain)
      if (r.getBoolean(5)) assert(e2 <= e1)
    }
    // vec 0 is in both seed sets: both stages exact
    val v0 = rows.find(_.getLong(0) == 0L).get
    assert(v0.getLong(1) == 0L && v0.getDouble(3) == 0.0 &&
      v0.getDouble(4) == 0.0)
    // stage 2 genuinely reduces corpus error, not just never-worsens
    assert(rows.count(_.getBoolean(5)) > 0)
    val m1 = rows.map(_.getDouble(3)).sum
    val m2 = rows.map(_.getDouble(4)).sum
    assert(m2 < m1, s"total err did not decrease: $m2 vs $m1")
  }

  test("pca project: centered, variance equals the eigenvalue, matches loadings") {
    val rows = Similarity.pcaProject(spark, sf).collect()
    val n = rows.length
    assert(n == Tables.embeddings(spark, sf).count())
    val ps = rows.map(_.getDouble(2))
    // projection of centered data along any axis has zero mean
    assert(math.abs(ps.sum / n) < 1e-3, s"mean ${ps.sum / n}")
    // the variance along the learned axis IS the Rayleigh eigenvalue
    val pca = Similarity.pcaPower(spark, sf).collect()
    val eig = pca.head.getDouble(2)
    val varP = ps.map(p => p * p).sum / n
    assert(math.abs(varP - eig) < 0.05 * eig,
      s"var $varP vs eigval $eig")
    // per-vector recompute from the published (rounded) loadings
    val load = pca.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val dims = embs.head._2.length
    val mus = (0 until dims).map(i => embs.map(_._2(i)).sum / n)
    val got = rows.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    embs.foreach { case (id, v) =>
      val p = (0 until dims).map(i => (v(i) - mus(i)) * load(i)).sum
      assert(math.abs(got(id) - p) < 1e-2, s"vec $id: ${got(id)} vs $p")
    }
  }

  test("pca fit-apply: artifact fit once and reused, agrees with the retraining twin") {
    import java.nio.file.{Files, Paths}
    import graft.sources.ModelStore
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/embeddings.parquet")
    val key = ModelStore.md5(s"$fp|8")
    val modelDir = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_models", s"pca1_v2_$key")
    def rmrf(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    rmrf(modelDir)
    // cold call: fits, persists, projects
    val r1 = Similarity.pcaFitApply(spark, sf).collect()
    assert(Files.exists(modelDir.resolve("_SUCCESS")), "artifact persisted")
    val snap = { import scala.jdk.CollectionConverters._
      Files.list(modelDir).iterator().asScala
        .map(f => f.getFileName.toString ->
          Files.getLastModifiedTime(f).toMillis).toMap }
    // warm call: bitwise-identical rows, artifact files untouched
    // (fit-once — the covariance + power iteration never rerun)
    val r2 = Similarity.pcaFitApply(spark, sf).collect()
    assert(r1.map(_.toSeq).toSeq == r2.map(_.toSeq).toSeq)
    val snap2 = { import scala.jdk.CollectionConverters._
      Files.list(modelDir).iterator().asScala
        .map(f => f.getFileName.toString ->
          Files.getLastModifiedTime(f).toMillis).toMap }
    assert(snap == snap2, "warm call must not rewrite the model artifact")
    // the apply-many path computes the same projection the retraining
    // twin does (both derive pc1 = sum (x-mu)*v from the same
    // trajectory; rounding grids differ at most one 1e-4 step)
    val twin = Similarity.pcaProject(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    r1.foreach { r =>
      assert(math.abs(r.getDouble(2) - twin(r.getLong(0))) <= 1e-4 + 1e-9,
        s"vec ${r.getLong(0)}: ${r.getDouble(2)} vs ${twin(r.getLong(0))}")
    }
  }

  test("ndcg eval: bounded, perfect iff order reproduced, consistent with recall") {
    val rows = Similarity.ndcgEval(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
      assert(r.getLong(1) >= 0L && r.getLong(1) <= 5L)
    }
    // hit counts agree with the recall eval over the same index pair
    val recall = Similarity.annRecallEval(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(r.getLong(1) == recall(r.getLong(0))))
    // ndcg == 1 exactly when the IVF list reproduces the exact ranking
    val truth = Similarity.bruteTopK(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val approx = Similarity.ivfTopK(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    rows.foreach { r =>
      val q = r.getLong(0)
      assert((r.getDouble(2) == 1.0) == (truth(q) == approx(q)), s"qid $q")
    }
    // a lossy index must actually be visible to the metric here: at the
    // default nProbe some query misses order or membership
    assert(rows.exists(_.getDouble(2) < 1.0))
  }

  test("hard negatives: wrong-label only, ranked, hardest negative is tight") {
    val rows = Similarity.hardNegatives(spark, sf).collect()
    val lab = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getInt(1) == lab(r.getLong(0)), "query label column")
      assert(r.getInt(4) == lab(r.getLong(3)), "negative label column")
      // a hard negative must NOT share the query's label
      assert(r.getInt(4) != r.getInt(1), "negative escaped the filter")
    }
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq == (1 to sorted.length))
      val sc = sorted.map(_.getDouble(5))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
    }
    // in-memory recompute for one query: the mined rank-1 negative is
    // the true max-cosine wrong-label candidate
    val embs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum)
        * math.sqrt(b.map(x => x * x).sum))
    }
    val q0 = embs.find(_._1 == 0L).get
    val bestNeg = embs.filter(_._3 != q0._3)
      .map(e => (e._1, cos(q0._2, e._2))).maxBy(_._2)
    val mined = rows.filter(r => r.getLong(0) == 0L && r.getInt(2) == 1).head
    assert(mined.getLong(3) == bestNeg._1,
      s"rank-1 negative ${mined.getLong(3)} vs true ${bestNeg._1}")
  }

  test("incremental ann: prebuilt index is batch-independent, verdicts consistent") {
    val e = Tables.embeddings(spark, sf)
    val corpus = e.filter(col("vec_id") % 5 =!= 4)
    val batch = e.filter(col("vec_id") % 5 === 4)
    val (seeds, members) = Similarity.standingAnnIndex(corpus)
    val full = Similarity.classifyBatch(seeds, members, batch, 0.4, 4)
      .collect()
    assert(full.length == batch.count())
    // a batch SUBSET classified against the same prebuilt index must
    // reproduce the full run row-for-row: corpus-side work is a pure
    // function of the corpus, never of the arriving batch
    val sub = Similarity.classifyBatch(seeds, members,
      batch.filter(col("vec_id") < 250), 0.4, 4).collect()
    val fullMap = full.map(r => r.getLong(0) -> r.toSeq).toMap
    assert(sub.nonEmpty)
    sub.foreach(r => assert(fullMap(r.getLong(0)) == r.toSeq,
      s"vec ${r.getLong(0)} classified differently in the subset run"))
    full.foreach { r =>
      assert(r.getLong(1) % 5 != 4, "best_match must be a corpus id")
      // verdict thresholds at UNROUNDED cos; stay clear of the rounding
      // boundary when asserting against the rounded display column
      if (r.getDouble(2) >= 0.4005) assert(r.getString(3) == "near_dup")
      if (r.getDouble(2) <= 0.3995) assert(r.getString(3) == "unique")
    }
  }

  test("mutual knn: edges equal the in-memory symmetrized top-k exactly") {
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val k = Similarity.K
    val topOf = vecs.keys.map { v =>
      v -> vecs.keys.filter(_ != v).toSeq
        .map(u => (u, cos(vecs(v), vecs(u))))
        .sortBy { case (u, c) => (-c, u) }.take(k).map(_._1).toSet
    }.toMap
    val expect = (for {
      a <- vecs.keys; b <- topOf(a) if a < b && topOf(b).contains(a)
    } yield (a, b)).toSet
    val got = Similarity.mutualKnn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect,
      s"missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
    // mutuality prunes: the directed top-k graph has n*k arcs, the
    // mutual graph must be strictly smaller than n*k/2 possible edges
    assert(got.nonEmpty && got.size < vecs.size * k / 2)
  }

  test("hybrid rrf: both modalities bind and scores are valid rrf sums") {
    val fused = Similarity.hybridRrf(spark, sf).collect()
    assert(fused.nonEmpty)
    val byQ = fused.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      val sc = sorted.map(_.getDouble(3))
      assert(sc.zip(sc.tail).forall { case (a, b) => a >= b })
      // an RRF score is at most 1/(60+1) + 1/(60+1) and positive
      assert(sc.forall(s => s > 0 && s <= 2.0 / 61.0 + 1e-9))
    }
    // the dense-only ranking must NOT equal the fused ranking for every
    // query — otherwise the lexical arm contributed nothing (and vice
    // versa would mean the dense arm is dead weight)
    val semOnly = Similarity.bruteTopK(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    val fusedIds = byQ.map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }
    assert(fusedIds.exists { case (q, ids) => semOnly(q) != ids },
      "fusion never changed the dense ranking — lexical arm is dead")
  }

  test("pair bleu: matches an in-memory clipped-precision recompute") {
    val texts = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).toMap
    def counts(ws: Seq[String], n: Int): Map[Seq[String], Int] =
      ws.sliding(n).toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
    def frac4(num: Double, den: Double): Double =
      math.floor(num / den * 10000.0 + 0.5) / 10000.0
    val got = Similarity.pairBleu(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (va, vb) = (r.getLong(0), r.getLong(1))
      val (a, b) = (texts(va), texts(vb))
      def clip(n: Int): Int = {
        val cb = counts(b, n)
        counts(a, n).map { case (g, c) => math.min(c, cb.getOrElse(g, 0)) }.sum
      }
      assert(r.getDouble(2) == frac4(clip(1), a.length), s"p1 of ($va,$vb)")
      assert(r.getDouble(3) == frac4(clip(2), a.length - 1),
        s"p2 of ($va,$vb)")
      assert(r.getDouble(4) == frac4(a.length, b.length),
        s"len_ratio of ($va,$vb)")
      assert(r.getDouble(2) >= 0 && r.getDouble(2) <= 1.0)
    }
  }

  test("ivfPqTopK default config: k rows per query, candidates from probed cells only") {
    val rows = Similarity.ivfPqTopK(spark, sf).collect()
    val perQ = rows.groupBy(_.getLong(0))
    assert(perQ.size == Similarity.NQueries)
    perQ.foreach { case (q, rs) =>
      assert(rs.length == Similarity.K, s"query $q returned ${rs.length} rows")
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to Similarity.K))
      // re-ranked cosines are exact, so they must be internally sorted
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b },
        s"query $q rerank order broken")
    }
  }

  test("prodPairsChecked: every planted pair found, banded arm pinned, both shapes") {
    val n = Tables.embeddings(spark, sf).count()
    val off = Tables.embeddings(spark, sf)
      .agg(max(col("vec_id"))).head.getLong(0) + 1
    // DESIGN-POINT shape (default targetOcc): r = 8, bands = 8
    val d = Similarity.prodPairsChecked(spark, sf).collect()
    assert(d.length == n,
      s"banding must find ALL $n planted pairs, got ${d.length}")
    d.foreach { r =>
      assert(r.getAs[Long]("vb") - r.getAs[Long]("va") == off,
        "every true pair is a (base, planted copy) pair")
      assert(r.getAs[Double]("cos_sim") >= 0.9)
      assert(r.getAs[String]("pair_arm") == "lsh_banded" &&
        r.getAs[String]("lsh_arm") == "lsh_banded")
      assert(r.getAs[Int]("lsh_r") == 8 && r.getAs[Int]("lsh_bands") == 8)
      // the semanticDispatch design stats at (0.9, 64, 8)
      assert(r.getAs[Double]("cand_frac") == 0.0313 &&
        r.getAs[Double]("design_recall") == 0.935)
    }
    // WIDENED shape (targetOcc = 2 pushes past the design point): the
    // plan re-derives (r, bands) from the closed form — independent
    // seeded bands, same pair set
    val (arm, r, bands) = Similarity.nearDupLshPlan(2 * n, 0.9, 64, 8,
      targetOcc = 2, maxBands = 64)
    assert(arm == "lsh_banded" && r > 8,
      s"targetOcc=2 must force the widened shape, got ($arm, $r, $bands)")
    val w = Similarity.prodPairsChecked(spark, sf, targetOcc = 2).collect()
    assert(w.length == n,
      s"widened banding must find ALL $n planted pairs, got ${w.length}")
    w.foreach { x =>
      assert(x.getAs[String]("lsh_arm") == "lsh_banded" &&
        x.getAs[Int]("lsh_r") == r && x.getAs[Int]("lsh_bands") == bands)
    }
    assert(d.map(x => (x.getLong(0), x.getLong(1))).toSet ==
      w.map(x => (x.getLong(0), x.getLong(1))).toSet,
      "both shapes recover the same (complete) pair set")
  }

  test("nearDupLshOf fetch joins: shuffle-hash hint only past the " +
    "broadcast regime") {
    // the hint dispatch is closed-form in the plan-shaping count n:
    // above 100k the corpus side of each fetch join carries
    // SHUFFLE_HASH (sort-merge would sort the candidate side twice);
    // at-or-below, the hint is WITHHELD because an explicit hint
    // overrides Catalyst's size-based broadcast selection and a small
    // corpus side should broadcast. Plan-level assertion only — both
    // plans produce identical rows by construction.
    val e0 = spark.range(0, 100).select(col("id").as("vec_id"),
      array((0 until 8).map(i => (col("id") % (i + 2)).cast("float")): _*)
        .as("embedding"))
    def shuffleHashHints(n: Long): Int = {
      val df = Similarity.nearDupLshOf(e0, n, tau = 0.9,
        nBits = 64, bands = 8)
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          Seq(j.hint.leftHint, j.hint.rightHint).flatten
            .flatMap(_.strategy)
            .count(_ == org.apache.spark.sql.catalyst.plans.logical
              .SHUFFLE_HASH)
      }.sum
    }
    assert(shuffleHashHints(100000L) == 0,
      "broadcast-regime corpus must carry no join hint")
    assert(shuffleHashHints(200001L) >= 2,
      "large-corpus fetch joins must hint shuffle-hash on both fetches")
  }

  test("prodParaphraseChecked: banded pair source, both lexical verdicts " +
    "closed-form (even = duplicate, odd = paraphrase)") {
    val n = Tables.embeddings(spark, sf).count()
    val off = Tables.embeddings(spark, sf)
      .agg(max(col("vec_id"))).head.getLong(0) + 1
    val rows = Similarity.prodParaphraseChecked(spark, sf).collect()
    // every planted pair has a >= 3-word text on the committed corpus,
    // so the composition keeps the FULL pair list
    assert(rows.length == n,
      s"composition must keep all $n planted pairs, got ${rows.length}")
    rows.foreach { r =>
      val va = r.getAs[Long]("va")
      assert(r.getAs[Long]("vb") - va == off)
      assert(r.getAs[String]("lsh_arm") == "lsh_banded" &&
        r.getAs[String]("pair_arm") == "lsh_banded")
      if (va % 2 == 0) {
        // verbatim planted text: identical shingles, lexical DUPLICATE
        assert(r.getAs[Double]("jaccard") == 1.0 &&
          !r.getAs[Boolean]("paraphrase"),
          s"even base id $va must verdict lexical-duplicate")
      } else {
        // token-suffixed planted text: disjoint shingles, PARAPHRASE
        assert(r.getAs[Double]("jaccard") == 0.0 &&
          r.getAs[Boolean]("paraphrase"),
          s"odd base id $va must verdict paraphrase")
      }
    }
  }

  test("prodDedupChecked: banded pairs close into the planted perfect " +
    "matching; base survivors, planted copies deduped") {
    val n = Tables.embeddings(spark, sf).count()
    val off = Tables.embeddings(spark, sf)
      .agg(max(col("vec_id"))).head.getLong(0) + 1
    val rows = Similarity.prodDedupChecked(spark, sf).collect()
    assert(rows.length == 2 * n, "one verdict row per derived vector")
    rows.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val cluster = r.getAs[Long]("cluster")
      val survivor = r.getAs[Boolean]("survivor")
      assert(r.getAs[String]("lsh_arm") == "lsh_banded")
      if (id < off)
        assert(cluster == id && survivor,
          s"base $id must be its own component min and survive")
      else
        assert(cluster == id - off && !survivor,
          s"planted $id must collapse into base ${id - off} and dedup")
    }
  }

  test("adaptiveMaxBucket: 32x expected occupancy, floored 64, capped 2000") {
    // the SCALE3_r18 datum shape: 200k vectors, widened r=16 ->
    // expected occupancy ~3, cap ~98 (the hand-run 256 confirmed the
    // regime; the derivation replaces the hand tuning)
    assert(Similarity.adaptiveMaxBucket(200000L, 16) == 98L)
    // design point at probe scale: n=1000, r=8 -> occ 3.9 -> 125
    assert(Similarity.adaptiveMaxBucket(1000L, 8) == 125L)
    // sub-expected-occupancy corpora keep the recall floor
    assert(Similarity.adaptiveMaxBucket(100L, 10) == 64L)
    // dense buckets saturate at the historical ceiling (pinned keys'
    // behavior at test scale is unchanged: sf0.1 emb_neardup_lsh runs
    // r=4 -> occ=125 -> 32x = 4000 -> ceiling 2000, the old constant)
    assert(Similarity.adaptiveMaxBucket(2000L, 4) == 2000L)
    // r >= 62 never overflows the occupancy arithmetic
    assert(Similarity.adaptiveMaxBucket(Long.MaxValue / 4, 63) == 64L)
  }

  test("nearDupLshAuto: uniform corpus keeps the banding, clustered corpus " +
    "dispatches the exact tile (measured-occupancy cost model)") {
    import spark.implicits._
    // the pure decision function on both shapes: banded candidate mass
    // ~ bands x band0Pairs vs the n²/2 exact tile, 4x margin
    assert(Similarity.nearDupLshPlanMeasured(10000L, 8, 200000L) ==
      "lsh_banded")
    assert(Similarity.nearDupLshPlanMeasured(10000L, 8, 24997500L) ==
      "exact_blocked")
    // end-to-end: the same operator call picks opposite arms on the
    // two corpus SHAPES at identical counts and config
    def usesSimhash(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan
        .collect { case p => p.expressions.flatMap(_.collect {
          case _: graft.functions.VecSimHash => true }) }
        .flatten.nonEmpty
    def corpusOf(name: String, clustered: Boolean): String = {
      val d = new java.io.File(s"target/tmp-similarity/auto_$name")
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      d.mkdirs()
      val n = 5000L
      val base = spark.range(n).select(col("id").as("vec_id"),
        (if (clustered)
          when(col("id") < 4500L, array(
            (0 until 16).map(j => lit(math.cos(j + 1).toFloat)): _*))
          .otherwise(expr("""transform(sequence(0, 15), j ->
            CAST(CAST(pmod(xxhash64(vec_id, j), 2001) - 1000 AS FLOAT)
              / CAST(1000 AS FLOAT) AS FLOAT))"""))
        else
          expr("""transform(sequence(0, 15), j ->
            CAST(CAST(pmod(xxhash64(vec_id, j), 2001) - 1000 AS FLOAT)
              / CAST(1000 AS FLOAT) AS FLOAT))"""))
          .as("embedding"), lit(0).as("label"))
      base.write.mode("overwrite")
        .parquet(s"${d.getAbsolutePath}/embeddings.parquet")
      d.getAbsolutePath
    }
    val uni = corpusOf("uniform", clustered = false)
    val clu = corpusOf("clustered", clustered = true)
    assert(usesSimhash(Similarity.nearDupLshAuto(spark, uni)),
      "uniform corpus: the closed-form banded plan must survive the probe")
    assert(!usesSimhash(Similarity.nearDupLshAuto(spark, clu)),
      "clustered corpus: the measured occupancy must dispatch the exact tile")
    // and the exact arm on the clustered corpus returns the cluster's
    // full quadratic truth — recall 1.0 where banding would have capped
    val pairs = Similarity.nearDupLshAuto(spark, clu)
      .filter(col("va") < 4500L && col("vb") < 4500L).count()
    assert(pairs == 4500L * 4499L / 2,
      s"exact arm must return the full within-cluster pair set, got $pairs")
  }

  test("nearDupLshAuto on an empty corpus returns empty, not NPE") {
    import spark.implicits._
    val dir = new java.io.File("target/tmp-similarity/corpus_empty")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    val path = dir.getAbsolutePath
    Seq.empty[(Long, Array[Float], String)]
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$path/embeddings.parquet")
    // the band-0 occupancy probe's sum() is SQL-null over zero groups —
    // the r19 ADVICE NPE: the guard must read it as 0 candidate pairs
    // and dispatch to an (empty) banded frame
    assert(Similarity.nearDupLshAuto(spark, path).count() == 0L)
  }

  test("corpusSize re-counts when the corpus is rewritten at the same path") {
    import spark.implicits._
    val dir = new java.io.File("target/tmp-similarity/corpus_fresh")
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    val path = dir.getAbsolutePath
    def write(n: Int): Unit =
      (0 until n).map(i => (i.toLong, Array.fill(4)(i.toFloat), "l"))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$path/embeddings.parquet")
    write(10)
    assert(Similarity.corpusSize(spark, path) == 10L)
    // an in-session rewrite (the probe/spec overwrite pattern) must not
    // serve the stale count — the r18 ADVICE wrong-arm hazard. NO sleep:
    // the freshness token now folds per-file (name, length, mtime)
    // content signals (r19 ADVICE), so even a rewrite inside one
    // mtime tick — and rewrites on object stores whose directory mtime
    // is synthetic — flips the token
    write(25)
    assert(Similarity.corpusSize(spark, path) == 25L,
      "plan-shaping count served stale after an in-place corpus rewrite")
  }
}
