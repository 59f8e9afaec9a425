package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CappedSet, Pins, TextFunctions}

/** Document deduplication, exact and near-dup, over the `documents` table.
  *
  * Scale posture: every variant shuffles only compact keys — md5 strings
  * (exact), (band, bucket-hash) pairs (MinHash LSH), (block, 16-bit value)
  * pairs (SimHash) — never document text. Signatures are computed map-side
  * in one pass by native codegen expressions
  * ([[graft.functions.MinHashSignature]], [[graft.functions.SimHash64]]);
  * the LSH pair join is an equi-join Catalyst can plan as a shuffled hash
  * join, with a bucket-size cap so one degenerate bucket (e.g. the empty
  * document) cannot produce a quadratic pair blow-up.
  */
object Dedup {
  val ShingleSize = 3

  /** Attach word n-gram shingles to an already-scoped docs frame (native
    * one-pass expression — see [[graft.functions.TextHash.wordShingles]]
    * for why not transform/element_at built-ins). Callers that prune the
    * corpus first (e.g. to LSH candidates) MUST filter before calling
    * this: Catalyst does not push a broadcast-hinted semi-join below the
    * shingle projection, so join-after-shingle re-shingles everything. */
  private[operators] def withShingles(docs: DataFrame,
                                      n: Int = ShingleSize): DataFrame =
    // fan the input out first (Tables.fanOut — identity at production
    // scan widths): shingling and everything fused after it (k-hash
    // signatures, banding) is the heavy map kernel of the dedup
    // family, and a single-file test-scale scan would run it on one
    // core (r21: dedup_containment 2.5 -> 1.1 s from this alone)
    graft.Tables.fanOut(docs)
      .withColumn("shingles", TextFunctions.word_shingles(col("text"), n))
      .filter(size(col("shingles")) >= 1)

  /** documents + shingles over the full table. */
  def docsWithShingles(spark: SparkSession, dir: String,
                       n: Int = ShingleSize): DataFrame =
    withShingles(Tables.documents(spark, dir), n)

  /** Exact-dup clusters: md5(text) -> count + keep-min survivor. */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("survivor"))
      .orderBy(col("survivor"))

  /** The deduplicated table: lowest doc_id per exact-hash cluster.
    * min_by, not a window row_number: the window form shuffles AND sorts
    * every row; min_by partial-aggregates map-side, so only one
    * candidate row per (hash, partition) reaches the shuffle — at 100 TB
    * that is the difference between sorting the corpus and a streaming
    * agg. doc_id is unique, so the pick is deterministic. */
  def exactSurvivors(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min_by(struct(col("doc_id"), col("lang"), col("source"),
        col("n_chars")), col("doc_id")).as("row"))
      .select(col("row.doc_id"), col("row.lang"), col("row.source"),
        col("row.n_chars"))
      .orderBy(col("doc_id"))

  /** CONTENT-DEFINED chunk dedup — the rsync/LBFS technique applied to
    * documents: chunk boundaries are declared wherever a word's own
    * hash satisfies a bucket test (md5 first-byte % `boundaryMod` ==
    * 0), so boundaries travel WITH the content — insert a paragraph
    * and every chunk after it still re-aligns, which is exactly what
    * the fixed-stride segmenting in text_boilerplate cannot do.
    * Chunks are hashed (md5 of the rejoined words) and counted across
    * the corpus; a doc's chunk is duplicated when its hash occurs in
    * >= 2 distinct documents.
    *
    * Scale posture: the boundary flag is pure map-side; the chunk-id
    * assignment is one running sum over each doc's own (pos) window —
    * per-doc partitions, bounded by document length, never a corpus
    * sort; chunk assembly is a per-(doc, chunk) partial agg; the
    * cross-corpus count shuffles (chunk_hash, doc) pairs once; the
    * verdict joins back on chunk_hash (hot boilerplate chunks are
    * single count-side rows in a hash join). */
  def cdcChunks(spark: SparkSession, dir: String,
                boundaryMod: Int = 8): DataFrame = {
    val hex = "0123456789abcdef"
    val words = Tables.documents(spark, dir)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
    val bucket =
      (expr(s"locate(substring(md5(cast(word as binary)), 1, 1), '$hex') - 1")
        * 16 +
        expr(s"locate(substring(md5(cast(word as binary)), 2, 1), '$hex') - 1"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val chunks = words
      .withColumn("b",
        when(bucket % boundaryMod === 0, 1L).otherwise(0L))
      .withColumn("chunk_id", sum(col("b")).over(wDoc))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("pos"), col("word")))),
          s => s.getField("word")), " ").as("chunk_text"))
      .select(col("doc_id"), col("chunk_id"),
        md5(col("chunk_text").cast("binary")).as("ch"))
    val freq = chunks.groupBy(col("ch"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    chunks.join(freq.hint("shuffle_hash"), Seq("ch"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        (floor(col("n_dup_chunks") / col("n_chunks") * 10000.0 + 0.5)
          / 10000.0).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[cdcChunks]]. */
  def cdcChunksOracle(boundaryMod: Int = 8): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         FROM documents),
       tok AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, ws[i + 1] AS word
         FROM w, UNNEST(range(len(ws))) AS t(i)),
       b AS (SELECT doc_id, pos, word,
           CASE WHEN ((strpos('0123456789abcdef',
               substring(md5(word), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(md5(word), 2, 1)) - 1)
             % $boundaryMod = 0 THEN 1 ELSE 0 END AS bf
         FROM tok),
       c AS (SELECT doc_id, pos, word,
           sum(bf) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS UNBOUNDED PRECEDING) AS chunk_id
         FROM b),
       ch AS (SELECT doc_id, chunk_id,
           md5(string_agg(word, ' ' ORDER BY pos)) AS ch
         FROM c GROUP BY 1, 2),
       freq AS (SELECT ch, count(DISTINCT doc_id) AS nd
         FROM ch GROUP BY 1)
       SELECT doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks,
         floor(CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) * 10000.0 + 0.5) / 10000.0 AS dup_frac
       FROM ch JOIN freq USING (ch) GROUP BY doc_id ORDER BY doc_id"""

  /** Incremental-ingest dedup: classify an arriving batch (doc_id % 5 ==
    * 4 stands in for the new shard) against the EXISTING corpus — the
    * operation an append-only 100 TB pipeline runs on every delivery,
    * where re-deduplicating the whole corpus per shard is unpayable.
    * Verdicts: exact_dup (same bytes as a corpus doc), norm_dup (same
    * after lower/strip/collapse canonicalization — trivially reformatted
    * copy), else unique; match_doc is the lowest matching corpus id.
    *
    * Scale shape: the corpus side reduces to one (hash, min-id) row per
    * distinct hash BEFORE the join (partial-agg map-side), so the joins
    * move corpus-distinct-hash rows and new-batch rows only — never
    * corpus text — and both joins share the new batch's partitioning. */
  def incremental(spark: SparkSession, dir: String): DataFrame = {
    val withH = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("h_exact"),
        md5(TextAnalysis.normalizedText(col("text"))).as("h_norm"))
    val corpus = withH.filter(col("doc_id") % 5 =!= 4)
    val arriving = withH.filter(col("doc_id") % 5 === 4)
    val ex = corpus.groupBy(col("h_exact"))
      .agg(min(col("doc_id")).as("exact_match"))
    val nm = corpus.groupBy(col("h_norm"))
      .agg(min(col("doc_id")).as("norm_match"))
    arriving
      .join(ex, Seq("h_exact"), "left_outer")
      .join(nm, Seq("h_norm"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("norm_match").isNotNull, "norm_dup")
          .otherwise("unique").as("verdict"),
        coalesce(col("exact_match"), col("norm_match")).as("match_doc"))
      .orderBy(col("doc_id"))
  }

  /** [[incremental]] BEHIND A BLOOM GATE — the 100 TB shape of the
    * daily exact/normalized dedup pass: in production almost every
    * arriving document is NEW, so paying two hash-keyed joins against
    * the corpus for every arrival wastes the common case. A standing
    * bloom filter over the corpus's exact+normalized hashes triages
    * MAP-SIDE: bloom-negative docs are *provably* unique (no false
    * negatives) and never reach a join; only bloom-positive docs take
    * the verify joins, which also scrub the false positives. Verdicts
    * are therefore IDENTICAL to [[incremental]] — the oracle is the
    * same exact restatement, and the spec additionally pins the plan
    * (the bloom gate is real) and output equality with the ungated
    * operator. The bloom sizes itself from Catalyst's plan statistic
    * (the [[Warehouse.bloomSemiJoin]] pattern — no extra count job). */
  def incrementalBloom(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.SparkBridge
    val withH = Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("h_exact"),
        md5(TextAnalysis.normalizedText(col("text"))).as("h_norm"))
    val corpus = withH.filter(col("doc_id") % 5 =!= 4)
    val arriving = withH.filter(col("doc_id") % 5 === 4)
    val hashes = corpus.select(col("h_exact").as("h"))
      .union(corpus.select(col("h_norm").as("h")))
    val nItems = {
      val stats = hashes.queryExecution.optimizedPlan.stats
      stats.rowCount.map(_.toLong).getOrElse {
        val width = hashes.queryExecution.optimizedPlan.output
          .map(_.dataType.defaultSize).sum + 8
        math.max(64L, (stats.sizeInBytes / BigInt(width)).toLong)
      }
    }
    val bloom = hashes.agg(
      SparkBridge.bloomFilterAgg(xxhash64(col("h")), nItems).as("bf"))
    val gated = arriving.withColumn("maybe",
      SparkBridge.mightContain(SparkBridge.scalarSubquery(bloom),
        xxhash64(col("h_exact"))) ||
      SparkBridge.mightContain(SparkBridge.scalarSubquery(bloom),
        xxhash64(col("h_norm"))))
    val sureNew = gated.filter(!col("maybe"))
      .select(col("doc_id"), lit("unique").as("verdict"),
        lit(null).cast("long").as("match_doc"))
    val ex = corpus.groupBy(col("h_exact"))
      .agg(min(col("doc_id")).as("exact_match"))
    val nm = corpus.groupBy(col("h_norm"))
      .agg(min(col("doc_id")).as("norm_match"))
    val verified = gated.filter(col("maybe"))
      .join(ex, Seq("h_exact"), "left_outer")
      .join(nm, Seq("h_norm"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("norm_match").isNotNull, "norm_dup")
          .otherwise("unique").as("verdict"),
        coalesce(col("exact_match"), col("norm_match")).as("match_doc"))
    sureNew.unionByName(verified).orderBy(col("doc_id"))
  }

  /** Banded minhash rows for a document frame: one (doc_id, band,
    * bucket) row per band — the shared kernel behind the all-pairs LSH
    * ([[minhashCandidates]]) and the standing-index incremental path
    * ([[incrementalMinhash]]). */
  private[graft] def minhashBands(docs: DataFrame, k: Int,
                                  bands: Int): DataFrame =
    bandsFromSigs(minhashSigs(docs, k), k, bands)

  /** The k-hash minhash SIGNATURE frame (doc_id, sig) — the expensive
    * shingle + k-hash pass split out of [[minhashBands]] so multi-arm
    * callers ([[lshSweep]]) compute it once and band it per arm: the
    * banding is slice + xxhash64 over the shared signature, so every
    * arm's (band, bucket) rows are bit-identical to a from-scratch
    * [[minhashBands]] call. */
  private[graft] def minhashSigs(docs: DataFrame, k: Int): DataFrame =
    withShingles(docs)
      .select(col("doc_id"),
        TextFunctions.minhash_signature(col("shingles"), k).as("sig"))

  /** Band a (doc_id, sig) signature frame into (doc_id, band, bucket)
    * rows — [[minhashBands]]'s banding half. */
  private[graft] def bandsFromSigs(sigs: DataFrame, k: Int,
                                   bands: Int): DataFrame = {
    require(bands > 0 && k % bands == 0)
    val r = k / bands
    sigs
      .select(col("doc_id"), posexplode(array((0 until bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * r + 1, r))): _*)))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** The STANDING corpus LSH index: (band, bucket) -> sorted member
    * list, capped at build time. A pure function of the corpus frame
    * alone — in a production deploy this is computed once per corpus
    * version and persisted; every arriving batch joins against it
    * without touching corpus text again (the spec pins
    * batch-independence by classifying batch subsets against one
    * prebuilt index). Size-1 buckets are KEPT (unlike the all-pairs
    * generator): a lone corpus doc must still be findable by a new
    * arrival. */
  private[graft] def corpusLshIndex(corpus: DataFrame, k: Int = 64,
                                    bands: Int = 16,
                                    maxBucket: Long = 100): DataFrame =
    // bucket gather with BOUNDED agg state ([[graft.functions
    // .CappedDistinctSet]] — same keep/drop boundary as the old
    // `collect_list + filter(size <= maxBucket)`, but a pathological
    // bucket dies at the cap inside the aggregation instead of
    // materializing corpus-sized on its reducer first; doc_ids are
    // distinct within a (band, bucket) by construction, so set == list)
    minhashBands(corpus, k, bands)
      .groupBy(col("band"), col("bucket"))
      .agg(CappedSet.capped_distinct_set(col("doc_id"), maxBucket.toInt)
        .as("corpus_ids"))
      .filter(col("corpus_ids").isNotNull)

  /** Incremental NEAR-DUP dedup — the missing rung above
    * [[incremental]]'s exact/normalized ladder: classify an arriving
    * batch against the standing corpus as exact_dup / norm_dup /
    * near_dup(match, jaccard) / unique WITHOUT re-pairing the corpus.
    * The daily-ingest operation of a production dedup deploy: corpus
    * signatures live in [[corpusLshIndex]] (built once per corpus
    * version), the batch computes ITS OWN signatures, probes the index
    * by (band, bucket) equi-join, and only the candidate pairs are
    * verified with exact shingle Jaccard — corpus text is touched only
    * for verified candidates (semi-join pruned), never re-shingled
    * wholesale.
    *
    * Verdict ladder (first match wins): exact_dup (byte-equal corpus
    * doc), norm_dup (equal after canonicalization), near_dup (best
    * corpus match with Jaccard >= tau; ties to the lower corpus id),
    * unique. `jaccard` reports only on the near_dup rung — the other
    * verdicts are hash-grade matches where similarity is definitional.
    *
    * Scale shape: corpus-side cost is INDEPENDENT of the batch (the
    * spec proves subset-stability); per batch, work is batch-sized
    * banding + a candidate-sized verify join. The DuckDB oracle states
    * the exact batch x corpus Jaccard predicate — at tau 0.8 the
    * (64, 16) banding's design recall (1 - (1 - 0.8^4)^16 ~ 0.9998 per
    * true pair) makes LSH-then-verify equal exact search on this
    * corpus, the same contract [[ngramJaccard]]'s oracle relies on. */
  def incrementalMinhash(spark: SparkSession, dir: String,
                         tau: Double = 0.8, k: Int = 64, bands: Int = 16,
                         maxBucket: Long = 100): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    val batch = docs.filter(col("doc_id") % 5 === 4)
    val index = corpusLshIndex(corpus, k, bands, maxBucket)
    classifyBatch(spark, dir, index, batch, tau, k, bands)
  }

  /** Classify `batch` against a prebuilt corpus index (see
    * [[incrementalMinhash]] for semantics). Split out so the spec can
    * hold the index fixed while varying the batch; (k, bands) must
    * match the index's build config. */
  private[graft] def classifyBatch(spark: SparkSession, dir: String,
                                   index: DataFrame, batch: DataFrame,
                                   tau: Double, k: Int = 64,
                                   bands: Int = 16): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("doc_id") % 5 =!= 4)
    // hash ladder (the [[incremental]] definitions, corpus pre-reduced).
    // Both rungs come out of ONE corpus pass: the old shape evaluated
    // hashed(corpus) twice (once per groupBy key), i.e. two full corpus
    // md5+normalize scans whose results differ only in which hash they
    // aggregate. Exploding each doc to (kind, hash) rows and aggregating
    // by (kind, hash) yields the identical min-doc_id match tables —
    // one corpus scan, one shuffle of the same total bytes.
    def hashed(df: DataFrame) = df.select(col("doc_id"),
      md5(col("text").cast("binary")).as("h_exact"),
      md5(TextAnalysis.normalizedText(col("text"))).as("h_norm"))
    def kindHashes(df: DataFrame) = hashed(df)
      .select(col("doc_id"), explode(array(
        struct(lit("e").as("kind"), col("h_exact").as("h")),
        struct(lit("n").as("kind"), col("h_norm").as("h")))).as("kh"))
      .select(col("doc_id"), col("kh.kind").as("kind"), col("kh.h").as("h"))
    val matches = kindHashes(corpus)
      .groupBy(col("kind"), col("h"))
      .agg(min(col("doc_id")).as("match_id"))
    // per batch doc: exactly two (kind, h) rows, each meeting at most
    // one match row, folded back to one row per doc — the same
    // exact_match/norm_match values the two per-hash joins produced
    val ladder = kindHashes(batch)
      .join(matches, Seq("kind", "h"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(min(when(col("kind") === "e", col("match_id"))).as("exact_match"),
        min(when(col("kind") === "n", col("match_id"))).as("norm_match"))
    // LSH probe: batch-side banding only; the index is the standing one.
    // Candidates are verified by exact Jaccard over their members only
    // ([[verifiedJaccard]], which pins the candidate frame)
    val cands = minhashBands(batch, k, bands)
      .join(index, Seq("band", "bucket"))
      .select(col("doc_id"), explode(col("corpus_ids")).as("cand_doc"))
      .filter(col("doc_id") =!= col("cand_doc"))
      .distinct()
    val verified = verifiedJaccard(docs, cands, "doc_id", "cand_doc")
      .filter(col("jaccard") >= tau)
    // best corpus match: jaccard desc, then lower corpus id
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("jaccard").desc, col("cand_doc"))
    val best = verified
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_doc").as("near_match"),
        col("jaccard").as("near_j"))
    ladder
      // the verified-best frame is near-dup-density-sized (tiny vs the
      // batch) — broadcast, as [[verifiedJaccard]] broadcasts its members
      .join(broadcast(best), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("exact_match").isNotNull, "exact_dup")
          .when(col("norm_match").isNotNull, "norm_dup")
          .when(col("near_match").isNotNull, "near_dup")
          .otherwise("unique").as("verdict"),
        coalesce(col("exact_match"), col("norm_match"), col("near_match"))
          .as("match_doc"),
        when(col("exact_match").isNull && col("norm_match").isNull,
          col("near_j")).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  /** MinHash-LSH candidate pairs: k-hash signature, banded into
    * (k/bands)-row buckets; docs sharing any band bucket become a pair.
    * maxBucket caps pathological buckets before the self-join. */
  def minhashCandidates(spark: SparkSession, dir: String, k: Int = 64,
                        bands: Int = 16, maxBucket: Long = 100): DataFrame =
    candidatesFromBanded(
      minhashBands(Tables.documents(spark, dir), k, bands), maxBucket)

  /** [[minhashCandidates]]' gather half over a prebuilt (doc_id, band,
    * bucket) frame: [[bucketPairs]], ordered. */
  private[graft] def candidatesFromBanded(banded: DataFrame,
                                          maxBucket: Long): DataFrame =
    bucketPairs(banded, "doc_id", maxBucket.toInt, "doc_a", "doc_b")
      .orderBy(col("doc_a"), col("doc_b"))

  /** The one capped bucket-pair gather of the LSH family (MinHash
    * [[minhashCandidates]], embedding [[Similarity.nearDupLshOf]]): the
    * distinct i<j pairs `(a, b)` of `id` values sharing a bucket, where
    * a bucket is one value of every other column of `banded` (Dedup's
    * `(band, bucket)`, Similarity's `bucket`). One shuffle, no
    * self-join — each bucket's sorted member list is gathered once and
    * its pairs expand map-side, so the banding subtree is evaluated
    * exactly once (a self-join re-evaluates it per side — AQE does not
    * reuse the exchange across join branches). The size gate is
    * enforced INSIDE the aggregation ([[CappedSet.capped_distinct_set]]),
    * so a bucket of more than `cap` ids never materializes past `cap`
    * anywhere and pair expansion is bounded by cap²/2 per bucket. */
  private[graft] def bucketPairs(banded: DataFrame, id: String, cap: Int,
                                 a: String, b: String): DataFrame =
    banded.groupBy(banded.columns.filter(_ != id).map(col): _*)
      .agg(CappedSet.capped_distinct_set(col(id), cap).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) > 1)
      // re-spread the bounded bucket rows BEFORE the pair explode: AQE
      // sizes the post-gather read by BYTES (kilobytes of capped id
      // arrays) and coalesces it toward one partition, but every row
      // explodes to up to cap²/2 pairs, so the generator stage ran
      // SINGLE-TASK (r22 profile: a 1.2 s 1-task stage under
      // emb_neardup_lsh while 31 cores idled, and the same in every
      // dedup consumer). The exchange moves only the capped id arrays;
      // the distinct right after makes row order immaterial.
      .repartition(banded.sparkSession.sparkContext.defaultParallelism)
      .select(CappedSet.explode_pairs(col("ids"))((x, y) =>
        struct(x.as(a), y.as(b))).as("p"))
      .select(col(s"p.$a"), col(s"p.$b")).distinct()

  /** Exact n-gram Jaccard similarity, evaluated only on LSH candidates
    * (the verify step of the classic LSH pipeline).
    *
    * The shingle sets for the verify step are computed ONLY for documents
    * that appear in some candidate pair: a semi-join against the (small)
    * candidate-member list prunes the scan before the expensive
    * shingle/array_distinct work, instead of re-shingling the whole
    * corpus for both join sides (measured 5.2 s -> ~2.6 s at sf0.1; at
    * 100 TB the difference is two full-corpus passes). */
  def ngramJaccard(spark: SparkSession, dir: String,
                   tau: Double = 0.8): DataFrame =
    jaccardAtLeast(spark, dir, minhashCandidates(spark, dir), tau)

  /** The (doc_a, doc_b) candidates at exact Jaccard >= tau, ordered and
    * pinned: output is verified-pair-sized, and the pin lets
    * multi-reference consumers (nearDupClusters' edge set and node
    * list, splitLeakage's two broadcast builds) read it instead of
    * re-running the verify join per reference, and frees the
    * verify's candidate and set pins when the scope exits. */
  private def jaccardAtLeast(spark: SparkSession, dir: String,
                             cands: DataFrame, tau: Double): DataFrame =
    Pins.scope { s =>
      s.pin(verifiedJaccard(Tables.documents(spark, dir), cands)
        .filter(col("jaccard") >= tau)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b")))
    }

  /** The one exact shingle-Jaccard verify: every column of `pairs`
    * plus `jaccard`, the 4-decimal Jaccard of the distinct word
    * shingles of documents `a` and `b` (ids into `docs`' `doc_id`). A
    * pair whose member is missing from `docs` or has no shingle drops.
    * Pins handed to the caller's scope: `pairs` and the member-sized
    * shingle sets. */
  private[graft] def verifiedJaccard(docs: DataFrame, pairs: DataFrame,
                                     a: String = "doc_a",
                                     b: String = "doc_b"): DataFrame = Pins.scope { s =>
    // The pair frame is referenced TWICE below, by the member list and
    // by the verify join, and the set pin puts them in different
    // actions: no exchange is reused across actions, so without a pin
    // the ENTIRE pair source (an LSH banding + bucket gather) runs twice
    // per call (r22 profile: two identical 32-task kernel stages in
    // every consumer). The frame is near-dup-density-sized (the point
    // of LSH), so one localCheckpoint costs one tiny materialization —
    // at 100 TB the saved pass is a full corpus banding.
    val pinned = s.pin(pairs)
    // pair output is a tiny fraction of the corpus (the point of LSH) —
    // broadcast its member list to prune map-side
    val members = pinned
      .select(explode(array(col(a), col(b))).as("doc_id"))
      .distinct()
    // semi-join FIRST, then shingle: the broadcast-hinted semi-join does
    // not push below a projection, so the reverse order would re-shingle
    // the whole corpus (TextDedupSpec checks the optimized plan). The
    // set frame is member-sized and referenced by BOTH verify-join
    // sides — pinned, so the pruned corpus scan runs once, not per side.
    val sets = s.pin(withShingles(
      docs.join(broadcast(members), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), array_distinct(col("shingles")).as("sh")))
    pinned
      .join(sets.select(col("doc_id").as(a), col("sh").as("sh_a")), Seq(a))
      .join(sets.select(col("doc_id").as(b), col("sh").as("sh_b")), Seq(b))
      .select(pairs.columns.map(col) :+ round(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"): _*)
  }

  /** The LSH BANDING S-CURVE TABLE — [[graft.operators.Similarity
    * .nprobeSweep]]'s twin on the dedup side: one row per (bands, rows)
    * split of the k = 64 minhash signature with the closed-form
    * candidate probability 1 − (1 − s^r)^b at similarity 0.7 / 0.8 /
    * 0.9 (the table every LSH deployment reads to pick its operating
    * point — wide bands catch lower-similarity pairs at higher
    * candidate cost, long rows sharpen the threshold), plus the
    * MEASURED verdict that this corpus's true pairs (exact Jaccard ≥
    * tau via [[ngramJaccard]]) are recalled at ≥ the design rate —
    * the design curve is a lower bound for pairs above tau, so the
    * verdict is mathematics-robust, not a statistical hope.
    *
    * Determinism: design probabilities are compile-time constants
    * (left-folded multiplication, floor-rounded 1e-6) inlined
    * identically into the oracle; n_true rides the standing
    * LSH-equals-exact contract; the verdict compares two exact
    * integers against a constant. Scale shape: the k-hash signature
    * frame is computed once and checkpointed (corpus-sized, k longs
    * per doc), the truth pair list once more (near-dup-density-sized);
    * each arm then bands the shared signatures (slice + hash only) +
    * a pair-keyed semi join — the corpus is shingled and minhashed
    * exactly once for the whole sweep. */
  def lshSweep(spark: SparkSession, dir: String, k: Int = 64,
               tau: Double = 0.8,
               bandConfigs: Seq[Int] = Seq(4, 8, 16, 32)): DataFrame = Pins.scope { s =>
    // the k-hash signature pass (shingles + k minhashes per doc — the
    // expensive half of every arm) is computed ONCE and checkpointed;
    // each arm and the truth's candidate stage band the SHARED
    // signatures (slice + xxhash64), so the per-arm candidate sets are
    // bit-identical to a from-scratch minhashCandidates call while the
    // corpus is shingled+hashed once instead of bandConfigs.size + 1
    // times. Truth reuses the 16-band arm's exact candidate pipeline
    // (ngramJaccard's defaults) when this k matches its 64.
    val sigs = s.pin(minhashSigs(Tables.documents(spark, dir), k))
    // the 16-band candidate set feeds BOTH the truth verify and the
    // 16-band arm — pin it once (candidate-pair-sized) so the banding +
    // bucket-gather over the shared signatures runs once, not per
    // consumer (r22 profile: the gather stages were the sweep's
    // dominant 32-task jobs)
    val cands16 =
      if (k == 64) Some(s.pin(
        candidatesFromBanded(bandsFromSigs(sigs, k, 16), 100)))
      else None
    def candsOf(b: Int): DataFrame =
      if (b == 16 && cands16.isDefined) cands16.get
      else candidatesFromBanded(bandsFromSigs(sigs, k, b), 100)
    val truthPairs =
      if (k == 64) jaccardAtLeast(spark, dir, cands16.get, tau)
      else ngramJaccard(spark, dir, tau)
    val truth = s.pin(truthPairs
      .select(col("doc_a"), col("doc_b")))
    // n_true is arm-independent: ONE one-row agg pinned and broadcast
    // into every arm (the per-arm nT agg re-ran 4x inside the union
    // plan — identical values, 4 redundant stage-jobs)
    val nT = s.pin(truth.agg(count(lit(1)).as("n_true")))
    val arms = bandConfigs.map { b =>
      val r = k / b
      val cand = candsOf(b)
      val found = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("n_found"))
      found.crossJoin(broadcast(nT)).select(
        lit(b).as("bands"), lit(r).as("r"),
        lit(sCurve(0.7, r, b)).as("design_recall_70"),
        lit(sCurve(0.8, r, b)).as("design_recall_80"),
        lit(sCurve(0.9, r, b)).as("design_recall_90"),
        col("n_true"),
        // the MEASURED per-arm recall, emitted as a value (not just a
        // verdict) so a banding regression changes a number the oracle
        // pins, not merely a boolean; empty truth = vacuous full recall
        when(col("n_true") === 0, lit(1.0))
          .otherwise(floor(col("n_found").cast("double") / col("n_true")
            * 1e4 + 0.5) / 1e4).as("measured_recall"),
        (col("n_found").cast("double") >=
          col("n_true") * sCurve(tau, r, b)).as("recall_ok"))
    }
    s.pin(arms.reduce(_ unionByName _).orderBy(col("bands")))
  }

  /** 1 − (1 − s^r)^b by left-folded multiplication (both engines'
    * literal arithmetic), floor-rounded at 1e-6. */
  private def sCurve(s: Double, r: Int, b: Int): Double = {
    val sr = (1 until r).foldLeft(s)((acc, _) => acc * s)
    val om = 1.0 - sr
    val omb = (1 until b).foldLeft(om)((acc, _) => acc * om)
    math.floor((1.0 - omb) * 1e6 + 0.5) / 1e6
  }

  /** DuckDB restatement of [[lshSweep]]: exact all-pairs truth (the
    * standing LSH-equals-exact contract), the same inlined design
    * constants, and per-arm MEASURED recall pinned from an actual run
    * on the sf0.01 gate corpus (n_true = 25; found = 23/25/25/25 for
    * bands 4/8/16/32 → 0.92, 1.0, 1.0, 1.0). The banding hash
    * (xxhash64, fixed seed) is deterministic, so the values are stable
    * until the banding itself changes — at which point the driver hash
    * breaks on a NUMBER, not a hand-waved boolean (the dedup_simhash
    * measured-contract pattern; the corpus-specific pin is re-measured
    * by TextDedupSpec's in-memory recompute at its own scale).
    *
    * VALIDITY: the pinned measured_recall values hold ONLY for the
    * sf0.01 gate corpus and the default band set — this oracle is the
    * driver's sf0.01 contract, not a general restatement. Running the
    * gate at another scale, or with bands outside the pinned set,
    * fails by construction; the latter is rejected eagerly below with
    * a message instead of a bare NoSuchElementException. */
  def lshSweepOracle(k: Int = 64, tau: Double = 0.8,
                     bandConfigs: Seq[Int] = Seq(4, 8, 16, 32)): String = {
    // measured on /root/testdata/sf0.01 (the driver's CORRECTNESS gate)
    val measuredSf001 = Map(4 -> "0.92", 8 -> "1.0", 16 -> "1.0", 32 -> "1.0")
    val unpinned = bandConfigs.filterNot(measuredSf001.contains)
    require(unpinned.isEmpty,
      s"lshSweepOracle has measured sf0.01 recall pins only for bands " +
        s"${measuredSf001.keys.toSeq.sorted.mkString(",")}; " +
        s"unpinned: ${unpinned.mkString(",")} — measure and pin before use")
    val armRows = bandConfigs.map { b =>
      val r = k / b
      s"""SELECT $b AS bands, $r AS r,
           CAST(${sCurve(0.7, r, b)} AS DOUBLE) AS design_recall_70,
           CAST(${sCurve(0.8, r, b)} AS DOUBLE) AS design_recall_80,
           CAST(${sCurve(0.9, r, b)} AS DOUBLE) AS design_recall_90,
           n_true, CAST(${measuredSf001(b)} AS DOUBLE) AS measured_recall,
           TRUE AS recall_ok FROM n"""
    }.mkString("\n         UNION ALL ")
    s"""WITH sh AS (SELECT doc_id, list_distinct(
           list_transform(range(1, len(l) - 1),
             i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS s
           FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
             t WHERE len(l) >= 3),
         tp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM sh a JOIN sh b ON a.doc_id < b.doc_id
           WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
             CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 4)
             >= CAST($tau AS DOUBLE)),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tp)
       $armRows
       ORDER BY bands"""
  }

  /** Train/valid/test LEAKAGE audit — the dedup ladder aimed at the
    * split boundary: a validation document that is a near-duplicate of
    * a training document inflates every eval it touches (the
    * train-test-overlap failure Lee et al. 2022 and the GPT-3 paper
    * both document), and hash-splitting alone cannot prevent it (the
    * split hashes the TEXT, so only EXACT duplicates land on the same
    * side by construction — near-duplicates split independently).
    * Composes the corpus near-dup detector ([[ngramJaccard]]: banded
    * minhash-LSH candidates, exact Jaccard verify) with the standing
    * split assignment ([[TextAnalysis.hashSplitOf]]) and verdicts each
    * verified pair on whether it crosses a split boundary.
    *
    * Scale posture: the pair list is near-dup-density-sized (the point
    * of LSH), so both split-attachment joins broadcast the pair side
    * into the corpus-sized split scan — the audit adds two broadcast
    * hash joins on top of the dedup pipeline it reuses, never a
    * corpus x corpus step. */
  def splitLeakage(spark: SparkSession, dir: String, tau: Double = 0.8)
      : DataFrame = Pins.scope { s =>
    val pairs = ngramJaccard(spark, dir, tau)
    // split assignment is ROW-LOCAL (md5 of the text), so it only needs
    // computing for PAIR MEMBERS: semi-join prune the corpus scan first
    // (as [[verifiedJaccard]] does) instead of md5-hashing the whole
    // corpus twice — the old shape joined the full corpus-sized split
    // frame against the broadcast pairs once per side, two full scans
    // whose rows were then discarded by the inner join anyway. The
    // pruned member-split frame is pair-member-sized; pin it once and
    // broadcast it into both attachment joins.
    val members = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val memberSplits = s.pin(TextAnalysis.hashSplitOf(
      Tables.documents(spark, dir)
        .join(broadcast(members), Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), col("split")))
    s.pin(pairs
      .join(broadcast(memberSplits.select(col("doc_id").as("doc_a"),
        col("split").as("split_a"))), Seq("doc_a"))
      .join(broadcast(memberSplits.select(col("doc_id").as("doc_b"),
        col("split").as("split_b"))), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("split_a"), col("split_b"),
        (col("split_a") =!= col("split_b")).as("leaked"))
      .orderBy(col("doc_a"), col("doc_b")))
  }

  /** Asymmetric CONTAINMENT dedup — the doc-inside-doc detector that
    * symmetric Jaccard structurally misses: a short document quoted
    * whole inside a much longer one has C(A,B) = |sh(A) n sh(B)| /
    * |sh(A)| ~ 1.0 while its Jaccard ~ |A|/|B| ~ 0 (so minhash-LSH,
    * tuned for Jaccard, won't even surface the pair). The candidate
    * source is therefore the capped inverted shingle index (the
    * [[graft.operators.TextAnalysis.decontaminate]] discipline): only
    * (shingle, doc_id) pairs shuffle, never text; shingles in more
    * than maxDF docs drop FIRST — that cap is part of the operator's
    * SEMANTICS (boilerplate n-grams are not containment evidence), so
    * the oracle restates it exactly and the hash is exact, and it
    * bounds worst-case join fan-out to maxDF^2 per shingle (the skew
    * guard). minSize floors the denominator so two-shingle snippets
    * can't fire spuriously. Both orientations are evaluated (A-in-B
    * and B-in-A are different claims); frac4 floor-pin on the ratio. */
  def containment(spark: SparkSession, dir: String, n: Int = ShingleSize,
                  maxDF: Int = 20, tau: Double = 0.9,
                  minSize: Int = 5): DataFrame =
    containmentOf(Tables.documents(spark, dir), n, maxDF, tau, minSize)

  /** [[containment]] over any (doc_id, text) frame — the spec plants a
    * doc-inside-doc pair whose Jaccard is far below any LSH tuning. */
  private[graft] def containmentOf(docs: DataFrame, n: Int = ShingleSize,
                                   maxDF: Int = 20, tau: Double = 0.9,
                                   minSize: Int = 5): DataFrame = Pins.scope { s =>
    val sh = docs
      .select(col("doc_id"),
        explode(array_distinct(TextFunctions.word_shingles(col("text"), n)))
          .as("s"))
    // the capped inverted index as ONE aggregation with BOUNDED state:
    // [[graft.functions.CappedDistinctSet]] abandons a shingle's doc set
    // the moment it exceeds maxDF (the dead bit travels with the partial
    // through the shuffle and the final merge), so a boilerplate shingle
    // present in a corpus-scale fraction of documents costs one bit on
    // its reducer, never a corpus-sized array — the r16-verdict hazard
    // a `collect_set + filter(df <= maxDF)` shape carries, where the
    // reducer must union the FULL set before the filter can drop it.
    // Identical semantics by construction (over-cap shingles were
    // filtered anyway; rows are distinct (s, doc_id) pairs so row-df ==
    // distinct-df). Candidate pairs still explode MAP-SIDE from each
    // kept shingle's doc array (fan-out <= maxDF^2 per shingle by the
    // cap): no join, no sort, nothing corpus x corpus anywhere. Pinned
    // once: the index feeds both the pair source and the per-doc sizes.
    val byShingle = s.pin(sh.groupBy(col("s"))
      .agg(CappedSet.capped_distinct_set(col("doc_id"), maxDF).as("docs"))
      .filter(col("docs").isNotNull)
      .select(col("docs"))
      // re-spread BEFORE the checkpoint (as [[bucketPairs]] does):
      // AQE coalesces the byte-tiny kept-index read toward one
      // partition, the checkpoint inherits that layout, and both
      // consumers' explodes (up to maxDF²/2 pairs per row) then run
      // single-task. The exchange moves only capped id arrays.
      .repartition(sh.sparkSession.sparkContext.defaultParallelism))
    val sizes = byShingle.select(explode(col("docs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("size_a"))
    // shared counts are symmetric: aggregate each UNORDERED pair once
    // (half the rows through the shuffle + hash agg), then emit both
    // orientations — C(A,B) and C(B,A) are different claims but share
    // n_shared
    val unordered = byShingle
      .select(explode(col("docs")).as("da"), col("docs"))
      .select(col("da"), explode(col("docs")).as("db"))
      .filter(col("da") < col("db"))
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("n_shared"))
    val pairs = unordered.select(explode(array(
        struct(col("da").as("doc_a"), col("db").as("doc_b"),
          col("n_shared")),
        struct(col("db").as("doc_a"), col("da").as("doc_b"),
          col("n_shared")))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.n_shared"))
    val c = floor(col("n_shared") / col("size_a") * 10000.0 + 0.5) / 10000.0
    s.pin(pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("size_a")),
        Seq("doc_a"))
      .filter(col("size_a") >= minSize)
      .withColumn("containment", c)
      .filter(col("containment") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("size_a"),
        col("containment"))
      .orderBy(col("doc_a"), col("doc_b")))
  }

  /** Near-duplicate CLUSTERS from the verified pair list: connected
    * components ([[Graph.minLabelComponents]] over the pairs, labeling
    * the docs that appear in a pair) — the final step of a production
    * dedup pipeline (pairs alone over-count; keep-one-per-component is
    * the actual delete set).
    *
    * Output: (doc_id, cluster, cluster_size), cluster = min doc_id of
    * the component (deterministic), singletons excluded (docs in no
    * pair are their own survivor by definition). */
  def nearDupClusters(spark: SparkSession,
                      dir: String): DataFrame = Pins.scope { s =>
    val pairs = ngramJaccard(spark, dir).select(col("doc_a"), col("doc_b"))
    val labels = Graph.minLabelComponents(pairs,
      pairs.select(explode(array(col("doc_a"), col("doc_b")))).distinct())
    // cluster size via a window over the label partition — one shuffle,
    // no join (a labels x sizes join would be large-large at scale).
    // The result is pinned (output-sized) so the pair pin is released
    // at scope exit rather than at context GC.
    s.pin(labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .select(col("id").as("doc_id"), col("label").as("cluster"),
        col("cluster_size"))
      .orderBy(col("cluster"), col("doc_id")))
  }

  /** The corpus after the FULL dedup pipeline: exact survivors minus
    * near-duplicate cluster non-survivors — the table a training run
    * would actually read. Anti-join on the (small) delete set; the
    * corpus side is never shuffled beyond the exact-survivor hash agg. */
  def finalSurvivors(spark: SparkSession, dir: String): DataFrame = {
    val deletes = nearDupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"))
    // the delete set is a small fraction of the corpus by construction
    // (near-dup non-survivors); broadcast it — the checkpointed cluster
    // output has no stats, so without the hint this anti-join would
    // plan as a sort-merge join shuffling the whole corpus
    exactSurvivors(spark, dir)
      .join(broadcast(deletes), Seq("doc_id"), "left_anti")
      .orderBy(col("doc_id"))
  }

  /** Hash-checked contract restatement of the MinHash-LSH candidate
    * stage ([[minhashCandidates]]): the candidate PAIR SET is
    * engine-specific (banding hash), but its recall contract is not —
    * at the design threshold tauHi = 0.9 a true pair escapes all 16
    * bands w.p. (1 - s^4)^16 <= 4e-8, so the candidates must contain
    * EVERY true pair. Verifying the candidates with exact n-gram
    * Jaccard and keeping those >= tauHi therefore yields exactly the
    * brute-force pair list, which the DuckDB oracle restates from the
    * raw documents table: a banding bug that drops a true pair removes
    * a row and breaks the hash; a verify slip changes a jaccard value
    * and breaks it too. `covered` records that every emitted row came
    * through the candidate stage (true by construction — the
    * row-set equality with the oracle is what carries the recall
    * proof). The engine plan stays linear in |candidates|; only the
    * oracle side is quadratic, and only at verify scale. */
  def minhashCoverageChecked(spark: SparkSession, dir: String,
                             tauHi: Double = 0.9): DataFrame =
    ngramJaccard(spark, dir, tauHi).withColumn("covered", lit(true))

  /** SimHash near-dup pairs with hamming distance <= maxHamming, exactly.
    *
    * Pigeonhole over m=6 blocks: a pair within hamming k=3 differs in at
    * most 3 blocks, so it AGREES on some 3-block subset; joining on every
    * C(6,3)=20 subset-concatenation key finds all such pairs. The naive
    * (k+1)-block scheme joins on single 16-bit block values, which
    * collide catastrophically when simhash bits are correlated (every
    * document votes the same way on common-shingle bits) — measured 43 s
    * at sf0.1 vs ~1 s for this scheme, because a ~32-bit 3-block key
    * keeps buckets near-singleton while preserving exactness
    * (spec-checked equal to brute force).
    *
    * `maxBucket` is the skew guard the exactness claim is conditioned
    * on: a block-key bucket larger than it (thousands of near-identical
    * template documents agreeing on 3 simhash blocks — a corpus-scale
    * hot key, not a near-dup signal any pipeline would enumerate
    * pair-by-pair) is abandoned INSIDE the aggregation
    * ([[graft.functions.CappedDistinctPairSet]]), bounding both the
    * reducer's gather state and the cap²-per-bucket pair explosion.
    * Below the cap — every test corpus and any sane production tuning —
    * the output is the exact brute-force pair list. */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // block boundaries: 11,11,11,11,10,10 bits (sum 64), m = 6 blocks
    val bounds = Seq(0, 11, 22, 33, 44, 54, 64)
    val m = bounds.length - 1
    def block(j: Int): Column = {
      val lo = bounds(j); val width = bounds(j + 1) - lo
      shiftrightunsigned(col("sim"), lo).bitwiseAND(lit((1L << width) - 1))
    }
    val subsets = (0 until m).combinations(m - maxHamming).toSeq
    val d = docsWithShingles(spark, dir)
      .select(col("doc_id"), TextFunctions.simhash64(col("shingles")).as("sim"))
    val keyed = d.select(col("doc_id"), col("sim"),
      explode(array(subsets.zipWithIndex.map { case (ss, i) =>
        xxhash64(lit(i) +: ss.map(block): _*)
      }: _*)).as("key"))
    // one shuffle, no self-join (same pattern as minhashCandidates):
    // bucket by key, expand i<j pairs map-side, hamming-filter inline
    keyed.groupBy(col("key"))
      .agg(CappedSet.capped_distinct_pair_set(
        col("doc_id"), col("sim"), maxBucket).as("ds"))
      // r17 ADVICE: degenerate-bucket abandonment must be OBSERVABLE,
      // not just documented — a null ds IS a bucket the cap killed, and
      // simhashChecked only verifies reported pairs, so a recall
      // regression in a skewed corpus would otherwise be silent. The
      // named observe() metric rides the plan (no extra pass, rows and
      // schema untouched — every pinned hash unchanged); a pipeline
      // relying on the exactness claim attaches a QueryExecutionListener
      // and alarms on dropped_buckets > 0 (spec-pinned both ways).
      .observe("simhash_buckets",
        count(when(col("ds").isNull, 1)).as("dropped_buckets"),
        count(lit(1)).as("buckets"))
      .filter(col("ds").isNotNull && size(col("ds")) > 1)
      .select(CappedSet.explode_pairs(col("ds"))((x, y) =>
        struct(x.getField("id").as("doc_a"), y.getField("id").as("doc_b"),
          bit_count(x.getField("v").bitwiseXOR(y.getField("v")))
            .as("hamming"))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"), col("p.hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Hash-checked contract restatement of [[simhashPairs]]: WHICH pairs
    * the 64-bit signature reports is engine-internal (simhash is not
    * SQL-expressible), but every REPORTED pair must be a genuine near
    * duplicate. Each reported pair is re-verified by [[verifiedJaccard]]
    * (linear in |pairs| — the shingle scan is pruned to pair members
    * first) and folded into per-document verdicts: `partners_verified`
    * = all of the document's reported partners sit at the 4-decimal
    * Jaccard >= floor; `hamming_ok` = reported distances within
    * maxHamming. The oracle states the contract as all-TRUE over the
    * corpus, so a simhash regression that pairs dissimilar documents
    * flips a verdict and breaks the hash. floor = 0.9: the measured
    * corpus minimum over reported pairs is 0.956 and the signature is
    * deterministic, so the verdict is stable. */
  def simhashChecked(spark: SparkSession, dir: String, floor: Double = 0.9,
                     maxHamming: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val perDoc = verifiedJaccard(docs, simhashPairs(spark, dir, maxHamming))
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"),
        col("jaccard"), col("hamming"))
      .groupBy(col("doc_id"))
      .agg(min(col("jaccard")).as("_minj"), max(col("hamming")).as("_maxh"))
    // the verdict frame only holds pair members — orders smaller than
    // the corpus (the member broadcast argument), so the corpus-wide
    // left join broadcasts it rather than shuffling the corpus
    docs.select(col("doc_id"))
      .join(broadcast(perDoc), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("_minj") >= floor, lit(true)).as("partners_verified"),
        coalesce(col("_maxh") <= maxHamming, lit(true)).as("hamming_ok"))
      .orderBy(col("doc_id"))
  }
}
