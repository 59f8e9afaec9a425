package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CappedSet, Pins, TextFunctions}

/** Text-analysis features over the `documents` table: quality scoring,
  * language-ID, token counting, fingerprinting — the standard pre-training
  * corpus filters, expressed entirely with codegen'd built-ins (split /
  * higher-order filter / regexp) so they fuse into one WholeStageCodegen
  * pass over the scan; no UDFs, no shuffle (all per-row until the final
  * ORDER BY for oracle determinism).
  */
object TextAnalysis {

  /** Per-language marker-token lists for the langid heuristic. The corpus
    * is a synthetic 31-word vocabulary, so these are disjoint marker sets
    * in that vocabulary standing in for real stopword tables. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "value", "row", "key"),
    "es" -> Seq("data", "table", "fast", "line"),
    "fr" -> Seq("query", "order", "merge", "group"),
    "de" -> Seq("window", "batch", "stream", "sort"),
    "zh" -> Seq("spark", "hash", "join", "scan"))

  private def toks: Column = split(col("text"), " ")

  private def hits(markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers: _*)))

  /** Length / vocabulary-richness / stopword-density quality features and
    * a composite score (the reference-free quality filters of a training
    * data pipeline). */
  /** Adds the quality feature columns (shared by [[quality]] and the
    * [[curate]] funnel — one definition of "the score"). */
  private[graft] def withQuality(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_len", length(col("text")))
      .withColumn("n_words", size(toks))
      .withColumn("n_distinct", size(array_distinct(toks)))
      .withColumn("ttr", round(col("n_distinct") / col("n_words"), 4))
      .withColumn("stop_ratio",
        round(hits(Seq("the", "a")) / col("n_words"), 4))
      // floor(x*1e4+0.5)/1e4 instead of round(x, 4): Spark's round goes
      // through BigDecimal of Double.toString (decimal HALF_UP) while
      // DuckDB rounds the binary value — they disagree when the true
      // value sits exactly on a half at the 4th decimal. floor on
      // identical doubles is identical everywhere.
      .withColumn("score", floor((
        col("n_distinct") / col("n_words") * 0.3
          + (lit(1.0) - hits(Seq("the", "a")) / col("n_words")) * 0.3
          + least(col("n_words") / 100.0, lit(1.0)) * 0.4) * 10000.0 + 0.5) / 10000.0)

  def quality(spark: SparkSession, dir: String): DataFrame =
    withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_len"), col("n_words"), col("n_distinct"),
        col("ttr"), col("stop_ratio"), col("score"))
      .orderBy(col("doc_id"))

  /** Marker-hit language ID: argmax of per-language marker counts with a
    * fixed priority order on ties. */
  /** Adds the per-language `<lang>_hits` columns and the argmax
    * `pred_lang` (tie-break: earlier language wins, en > es > fr > de >
    * zh). Shared by [[langid]] and the [[curate]] funnel. */
  private[operators] def withLangPrediction(docs: DataFrame): DataFrame = {
    val withHits = LangMarkers.foldLeft(docs) {
      case (df, (lang, markers)) => df.withColumn(s"${lang}_hits", hits(markers))
    }
    val langs = LangMarkers.map(_._1)
    val pred = langs.zipWithIndex.foldRight(lit(langs.last): Column) {
      case ((lang, i), elseCol) =>
        if (i == langs.length - 1) elseCol
        else when(langs.drop(i + 1).map(l =>
          col(s"${lang}_hits") >= col(s"${l}_hits")).reduce(_ && _), lang)
          .otherwise(elseCol)
    }
    withHits.withColumn("pred_lang", pred)
  }

  def langid(spark: SparkSession, dir: String): DataFrame =
    withLangPrediction(Tables.documents(spark, dir))
      .select(col("doc_id") +: LangMarkers.map { case (l, _) =>
        col(s"${l}_hits") } :+ col("pred_lang"): _*)
      .orderBy(col("doc_id"))

  /** Whitespace vs BPE-ish regex tokenization counts. */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws_tokens", size(toks))
      .withColumn("re_tokens",
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0))))
      .withColumn("max_token_len", array_max(transform(toks, t => length(t))))
      .withColumn("n_distinct", size(array_distinct(toks)))
      .select(col("doc_id"), col("ws_tokens"), col("re_tokens"),
        col("max_token_len"), col("n_distinct"))
      .orderBy(col("doc_id"))

  /** Normalization-aware exact dedup: lower-case, strip punctuation,
    * collapse whitespace, then cluster on md5 of the canonical text —
    * catches trivially-reformatted duplicates exact dedup misses. All
    * per-row codegen'd string ops until the final hash-groupBy. */
  /** The canonical text form shared by [[normalizeDedup]] and
    * [[graft.operators.Dedup.incremental]]: lower-case, strip
    * punctuation, collapse whitespace. One definition so the two dedup
    * surfaces can never disagree on what counts as "the same text". */
  private[operators] def normalizedText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  def normalizeDedup(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(normalizedText(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("survivor"))
      .orderBy(col("survivor"))
  }

  /** Corpus-wide top bigrams (the n-gram frequency table of a corpus
    * profile). Shingling is the single-pass WordShingles expression;
    * the count is partial-agg friendly, and only (bigram, count) pairs
    * shuffle — never the documents. */
  def bigrams(spark: SparkSession, dir: String, topN: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TextFunctions.word_shingles(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(topN)

  /** Unigram cross-entropy per document against the corpus's own
    * unigram LM — the perplexity-proxy quality filter: documents whose
    * tokens are corpus-atypical (high -ln p) read as noise/outliers,
    * the cheap stand-in for an LM-based filter when no model fits in
    * the pipeline. p(t) = count(t)/T with no smoothing (every scored
    * token is in the vocabulary by construction).
    *
    * Scale shape (the [[collocations]] discipline — NOT a term window,
    * which would ship every occurrence of a hot token to one partition
    * with no map-side combine): occurrences collapse map-side to
    * (doc, term, occ), term counts collapse that to the VOCAB-sized
    * (term, c) frame, and the two meet through a term-keyed hash join
    * (AQE-skew-splittable); T is the one scalar crossed on. The
    * per-doc mean is occ-weighted on the dyadic 2^-24 grid — each
    * term's -ln p snaps to an integer once, occ · int is exact, so the
    * mean is order-independent on any partitioning (the classifier-GD
    * discipline); ln bit-parity holds per element (verified). */
  def xentropy(spark: SparkSession, dir: String): DataFrame = {
    val Q = 16777216.0 // 2^24
    val docTerm = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("occ"))
    val termCnt = docTerm.groupBy(col("term")).agg(sum(col("occ")).as("c"))
    val total = termCnt.agg(sum(col("c")).as("t_total"))
    docTerm
      .join(termCnt, Seq("term"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_tokens"),
        (sum(col("occ") * floor(-log(col("c") / col("t_total")) * lit(Q)
          + lit(0.5))).cast("double") / lit(Q) / sum(col("occ"))).as("x"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("x") * 10000.0 + 0.5) / 10000.0).as("xent"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic weighted sample (Efraimidis-Spirakis A-ES): each doc
    * gets priority ln(u)/w — the monotone-log form of the classic
    * u^(1/w) key, chosen because ln is bit-identical across engines
    * while pow is not proven — with u a dyadic-exact uniform derived
    * from the doc's md5 (first 8 hex digits + 0.5, over 2^32: never 0,
    * no ln(-inf)) and w = char length (longer docs proportionally more
    * likely). Top-k by priority IS a weighted sample without
    * replacement, reproducible run-to-run and engine-to-engine — the
    * property a curation pipeline needs for auditable subsampling.
    *
    * Scale shape: priorities are one map-side codegen pass; the global
    * top-k is the k-bounded-heap aggregate, so numPartitions x k rows
    * shuffle — never a global sort. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        (log((conv(substring(md5(col("text").cast("binary")), 1, 8), 16, 10)
          .cast("long") + lit(0.5)) / lit(4294967296.0))
          / length(col("text")).cast("double")).as("priority"))
      .agg(graft.functions.TopK.top_k_by_score(
        col("priority"), col("doc_id"), k).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("int").as("rk"),
        col("col.id").as("doc_id"),
        round(col("col.score"), 6).as("priority"))
      .orderBy(col("rk"))

  /** TF-IDF top-k terms per document — the keyword/topic signal a
    * curation pipeline computes for tagging and diversity balancing.
    * idf = ln(N/df), no smoothing (df >= 1 for every term actually in a
    * document). Math.log and DuckDB's ln are bit-identical on this
    * platform (verified over every N/df ratio the corpus produces), and
    * ties — equal raw scores — break by term, so the ranking is fully
    * deterministic cross-engine.
    *
    * Scale posture: df is DERIVED from the tf frame as a vocab-sized
    * partial agg met through a term-keyed hash join (the
    * [[collocations]] discipline — a term WINDOW would ship every
    * (doc, term) row of a hot term to one partition with no map-side
    * combine, and a vocab broadcast would blow at a heavy-tailed
    * 100 TB vocabulary); N is the one scalar broadcast. The remaining
    * window is doc-keyed (bounded by doc length). */
  def tfidf(spark: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfCnt = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf
      .join(dfCnt, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("raw", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("raw").desc, col("term"))))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("rk"), col("term"),
        round(col("raw"), 4).as("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Train/eval decontamination: flag training documents sharing >=
    * minShared distinct word n-grams with any eval document (doc_id % 10
    * == 0 stands in for the benchmark set). The join is an inverted
    * index on shingles — only (shingle, doc_id) pairs shuffle, never
    * text — and shingles appearing in more than maxDF documents are
    * dropped first, which both bounds the worst-case join fan-out to
    * maxDF^2 per shingle (the skew guard) and removes boilerplate
    * n-grams that are not contamination evidence. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 3,
                    maxDF: Int = 20, minShared: Int = 3): DataFrame =
    decontaminateOf(Tables.documents(spark, dir), n, maxDF, minShared)

  /** [[decontaminate]] over any (doc_id, text) frame — split out (the
    * [[graft.operators.Dedup.containmentOf]] convention) so the hot-key
    * probe can plant a corpus-wide boilerplate shingle. */
  private[graft] def decontaminateOf(docs: DataFrame, n: Int = 3,
                    maxDF: Int = 20, minShared: Int = 3): DataFrame = {
    val sh = docs
      .select(col("doc_id"),
        explode(array_distinct(TextFunctions.word_shingles(col("text"), n))).as("s"))
    // the inverted index as ONE aggregation with BOUNDED state (the
    // dedup_containment discipline): [[graft.functions.CappedDistinctSet]]
    // abandons a shingle's doc set past maxDF, so the final merge never
    // holds a hot shingle's corpus-sized doc list — the hazard the
    // collect_set + post-filter shape carries at true 100 TB. Each kept
    // shingle's doc set splits into train/eval arrays and the
    // (train, eval) pairs explode MAP-SIDE — fan-out <= maxDF^2 per
    // shingle by the cap, no join anywhere
    sh.groupBy(col("s"))
      .agg(CappedSet.capped_distinct_set(col("doc_id"), maxDF).as("docs"))
      .filter(col("docs").isNotNull)
      // no respread here (unlike Dedup.bucketPairs): this gather is
      // SHINGLE-keyed, so its row count — and hence its byte size —
      // grows with the corpus and AQE sizes the read sensibly at any
      // scale; the respread measured as pure exchange tax at sf0.1
      .select(filter(col("docs"), d => d % 10 =!= 0).as("tr"),
        filter(col("docs"), d => d % 10 === 0).as("ev"))
      .select(explode(col("tr")).as("train_doc"), col("ev"))
      .select(col("train_doc"), explode(col("ev")).as("eval_doc"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("train_doc"), col("eval_doc"))
  }

  /** Content-hash train/valid/test split: the split is a pure function
    * of the TEXT (md5 prefix ranges over the 256 two-hex-digit buckets:
    * [00,d0) train ~81%, [d0,e8) valid ~9.4%, [e8,ff] test), so exact
    * duplicates always land in the same split — the property that stops
    * train/test contamination through duplicated documents, which a
    * random or id-based split silently violates. Pure map-side, no
    * shuffle, deterministic across runs/retries/backfills — the only
    * split discipline that survives an incremental 100 TB corpus. */
  def hashSplitOf(docs: DataFrame,
                  trainTo: String = "d0", validTo: String = "e8"): DataFrame =
    docs
      .select(col("doc_id"),
        substring(md5(col("text").cast("binary")), 1, 2).as("bucket"),
        splitCol(col("text"), trainTo, validTo).as("split"))

  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    // the sort is oracle-determinism plumbing, not part of the operator:
    // hashSplitOf itself must stay a narrow map-only stage
    hashSplitOf(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Concat-and-chunk sequence packing (GPT-style): within each
    * (source, shard) cell, documents are laid head-to-tail in doc_id
    * order and cut into fixed `budget`-token training sequences; each
    * document reports the bin range it spans and its offset in the
    * first bin. Sharding (contiguous doc_id ranges of `shardSize`) is
    * what makes the running sum scale: a window partitioned by source
    * alone would pull a WHOLE source — terabytes of one crawl — into a
    * single partition's sort, while (source, shard) bounds every
    * partition at shardSize documents no matter how skewed the source
    * mix is. Bins are scoped per cell (a real tokenization run packs
    * per input shard for exactly this reason), so cells never
    * coordinate. Integer-exact arithmetic, fully oracle-checkable. */
  def packOf(docs: DataFrame, budget: Int = 128,
             shardSize: Long = 256L,
             tokenCount: Column = size(toks).cast("long")): DataFrame = {
    val w = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("shard", floor(col("doc_id") / shardSize))
      .withColumn("n_tokens", tokenCount)
      .withColumn("tok_end", sum(col("n_tokens")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n_tokens"))
      .select(col("source"), col("shard"), col("doc_id"), col("n_tokens"),
        (col("tok_start") % budget).as("bin_offset"),
        floor(col("tok_start") / budget).cast("long").as("bin_first"),
        floor((col("tok_end") - 1) / budget).cast("long").as("bin_last"))
  }

  def pack(spark: SparkSession, dir: String): DataFrame =
    packOf(Tables.documents(spark, dir)).orderBy(col("source"), col("doc_id"))

  /** Per-document REAL BPE token counts (merges-table greedy algorithm,
    * [[graft.functions.BpeKernel]]) next to the raw char / whitespace
    * counts — the denominators a token-budgeted pipeline actually uses.
    * Runs with [[graft.functions.Bpe.OracleMerges]], the non-chaining
    * digraph table whose greedy result the DuckDB oracle can restate
    * closed-form (tokens = non-space chars − Σ merge occurrences);
    * chained general tables are exercised in BpeSpec. One map-side pass,
    * all codegen. */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        length(translate(col("text"), " ", "")).as("n_chars"),
        size(toks).as("ws_tokens"),
        graft.functions.Bpe.bpe_token_count(col("text")).as("n_bpe"))
      .orderBy(col("doc_id"))

  /** BPE merge-table INDUCTION on the engine — [[bpeTokens]] applies a
    * merges table; a production tokenizer pipeline TRAINS one (Sennrich
    * et al. 2016): greedily pick the most frequent adjacent symbol pair
    * over the word-frequency histogram, fuse it corpus-wide, repeat.
    * This is exactly how HF/sentencepiece BPE trainers operate — on the
    * (word, count) histogram, never the raw corpus — so the reduction
    * to the histogram IS the scale story: one map-side-combined token
    * aggregation shrinks 100 TB of text to a vocabulary-sized frame,
    * and every training round after that is vocab-sized.
    *
    * Determinism engineering: a word's symbol state is a string with
    * DOUBLED-space delimiters (" a  b  c "), so fusing pair (a,b) is
    * `replace(s, ' a  b ', ' ab ')` — both engines' replace scans
    * leftmost non-overlapping, which is precisely BPE's merge order for
    * overlapping runs (" a  a  a " -> " aa  a "), and each neighbor
    * keeps one delimiter space on either side of the fused symbol. Pair
    * counts are integer sums over word counts; the argmax is total-
    * ordered (count desc, then pair lexicographic). No FP anywhere.
    *
    * Scale posture: pair counting explodes ~|word| structs map-side per
    * vocab row and lands in one hash aggregation; the winning pair is a
    * TakeOrdered(1) one-row frame broadcast into the next round's fuse;
    * per-round localCheckpoint caps the plan (the Lloyd/GD loop
    * discipline). Round count is the vocab-size budget, a constant. */
  def bpeTrain(spark: SparkSession, dir: String, nMerges: Int = 8)
      : DataFrame =
    bpeTrainOf(Tables.documents(spark, dir), nMerges)

  /** [[bpeTrain]]'s kernel over any frame with a `text` column — split
    * out so the spec can drive planted corpora (overlapping runs pin
    * the leftmost-first fuse order; a saturated vocabulary pins the
    * graceful early stop). */
  private[graft] def bpeTrainOf(docs: DataFrame, nMerges: Int = 8)
      : DataFrame = bpeTrainState(docs, nMerges)._1

  /** The full training state of [[bpeTrainOf]]: the merge table AND the
    * final per-word symbol assignment (word, wc, s) — the trained
    * tokenizer itself, consumed by [[bpeApply]]. */
  private[graft] def bpeTrainState(docs: DataFrame, nMerges: Int = 8)
      : (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE distributed pass: the word-TYPE count table (map-side
    // combined agg). The merge loop itself runs on the DRIVER over the
    // collected table — word-type-sized state, exactly the bound this
    // tokenizer already commits to by broadcasting the trained
    // per-word assignment into [[bpeApply]]'s hash join (every
    // production BPE trainer holds the type table in memory). MEMORY
    // BOUND, stated honestly: word TYPES grow with corpus size under
    // Heap's law (~K·N^0.5 for natural text), so the collected table is
    // sublinear in the corpus but not constant — at 100 TB (~1e13
    // tokens) Heap's law predicts ~1e8 types, a few GB of driver state,
    // the same order as the bpeApply broadcast of the trained
    // assignment; `spark.driver.maxResultSize` (1 GB default) gates the
    // collect LOUDLY before it can OOM the driver, at which point the
    // remedy is a min-count pre-filter (what production BPE trainers
    // do), a semantic change this registered key cannot make silently.
    // The old distributed loop paid ~3 jobs + three query plannings per
    // merge step on a vocab-sized frame (r21 profile: 45 stage-jobs,
    // >60% inter-job driver gap). Parity: pair counts are exact integer
    // sums; the argmax order (pair_count DESC, lft, rgt — UTF-8 byte
    // order, the UTF8String comparison Spark used) and the literal
    // all-occurrence replace are reproduced verbatim, so the merge
    // table and final symbol assignment are bit-identical and the
    // unrolled oracle holds.
    val vocab0: Array[(String, Long)] = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("wc"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // initial symbols: " c  h  a  r  s " (boundary sentinels single-
    // spaced, symbols double-spaced) — same construction as the old
    // Spark substr ladder, which splits by CODE POINT (UTF8String
    // semantics): iterating UTF-16 units here (`w.map(_.toString)`)
    // would halve supplementary-plane characters (emoji, rare CJK)
    // into unpaired surrogates that u8Lt then mangles via getBytes
    // (encoded as 0x3F) — the r21 ADVICE item. Code-point iteration
    // keeps every symbol a valid scalar string, so UTF-8 byte order
    // below matches Spark's UTF8String comparison exactly.
    var words: Array[(String, Long, String)] = vocab0.map { case (w, c) =>
      (w, c, w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
        .mkString(" ", "  ", " ")) }
    def u8Lt(x: String, y: String): Boolean = {
      val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
      var i = 0
      while (i < a.length && i < b.length) {
        val c = (a(i) & 0xff) - (b(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      a.length < b.length
    }
    val merges =
      scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    var saturated = false
    for (step <- 1 to nMerges if !saturated) {
      val pc = scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (_, wc, s) =>
        val l = s.trim.split("  ")
        var i = 0
        while (i < l.length - 1) {
          val k = (l(i), l(i + 1))
          pc(k) = pc.getOrElse(k, 0L) + wc
          i += 1
        }
      }
      if (pc.isEmpty) saturated = true
      else {
        val ((bl, br), cnt) = pc.reduceLeft { (x, y) =>
          val ((xa, xb), xc) = x; val ((ya, yb), yc) = y
          if (yc > xc) y
          else if (yc < xc) x
          else if (u8Lt(ya, xa)) y
          else if (u8Lt(xa, ya)) x
          else if (u8Lt(yb, xb)) y
          else x
        }
        merges += ((step, bl, br, bl + br, cnt))
        words = words.map { case (w, wc, s) =>
          (w, wc, s.replace(" " + bl + "  " + br + " ",
            " " + bl + br + " ")) }
      }
    }
    val mergesDf = merges.toSeq
      .toDF("step", "lft", "rgt", "merged", "pair_count")
      .orderBy(col("step"))
    val vocabDf = words.toSeq.toDF("word", "wc", "s")
    (mergesDf, vocabDf)
  }

  /** Zipf rank-frequency FIT — the corpus-shape diagnostic (a natural
    * corpus follows freq ∝ rank^s with s ≈ −1; boilerplate floods,
    * template spam, or synthetic text bend the curve, so the fitted
    * exponent and its R² are cheap whole-corpus health numbers a
    * curation dashboard tracks release over release): OLS of ln(freq)
    * on ln(rank) over the top `topR` terms.
    *
    * Determinism: ranks are integers from a total order (count desc,
    * term); the four OLS sums run over exactly topR rows and are
    * float-cast out of their aggregate (ln parity per element, order
    * drift collapsed); slope/intercept/R² are then single-expression
    * arithmetic on the pinned sums, frac4 at the edge.
    *
    * Scale posture: term counts are one map-side-combined agg; the
    * top-R cut is a TakeOrdered (per-partition heads merge on the
    * driver, never a global sort); everything after is topR-sized. */
  def zipfFit(spark: SparkSession, dir: String, topR: Int = 100)
      : DataFrame = zipfFitOf(Tables.documents(spark, dir), topR)

  /** [[zipfFit]]'s kernel over any frame with a `text` column — split
    * out so the spec can plant an exactly-Zipfian corpus (slope −1,
    * R² 1) and a uniform one (slope 0). */
  private[graft] def zipfFitOf(docs: DataFrame, topR: Int = 100)
      : DataFrame = {
    val counts = docs
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(count(lit(1)).as("n_vocab"),
      sum(col("cnt")).as("n_tokens"))
    val top = counts.orderBy(col("cnt").desc, col("term")).limit(topR)
      .withColumn("rk", row_number().over(Window
        .orderBy(col("cnt").desc, col("term"))))
      .select(log(col("rk").cast("double")).as("x"),
        log(col("cnt").cast("double")).as("y"))
    val sums = top.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).cast("float").cast("double").as("sx"),
      sum(col("y")).cast("float").cast("double").as("sy"),
      sum(col("x") * col("x")).cast("float").cast("double").as("sxx"),
      sum(col("y") * col("y")).cast("float").cast("double").as("syy"),
      sum(col("x") * col("y")).cast("float").cast("double").as("sxy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    sums.crossJoin(broadcast(total))
      .select(col("n_vocab"), col("n_tokens"), col("n").cast("bigint").as("n_top"),
        (floor(cov / vx * 10000.0 + 0.5) / 10000.0).as("slope"),
        (floor((col("sy") - cov / vx * col("sx")) / col("n")
          * 10000.0 + 0.5) / 10000.0).as("intercept"),
        (floor(cov * cov / (vx * vy) * 10000.0 + 0.5) / 10000.0).as("r2"))
  }

  /** DuckDB restatement of [[zipfFit]]: same total order, same pinned
    * OLS sums, same single-expression fit. */
  def zipfFitOracle(topR: Int = 100): String =
    s"""WITH c AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS term
           FROM documents) t GROUP BY term),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vocab,
         CAST(sum(cnt) AS BIGINT) AS n_tokens FROM c),
       top AS (SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, term)
             AS DOUBLE)) AS x,
           ln(CAST(cnt AS DOUBLE)) AS y
         FROM (SELECT * FROM c ORDER BY cnt DESC, term LIMIT $topR) q),
       s AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(CAST(sum(x) AS FLOAT) AS DOUBLE) AS sx,
           CAST(CAST(sum(y) AS FLOAT) AS DOUBLE) AS sy,
           CAST(CAST(sum(x * x) AS FLOAT) AS DOUBLE) AS sxx,
           CAST(CAST(sum(y * y) AS FLOAT) AS DOUBLE) AS syy,
           CAST(CAST(sum(x * y) AS FLOAT) AS DOUBLE) AS sxy
         FROM top)
       SELECT n_vocab, n_tokens, CAST(n AS BIGINT) AS n_top,
         floor((n * sxy - sx * sy) / (n * sxx - sx * sx)
           * 10000.0 + 0.5) / 10000.0 AS slope,
         floor((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
           * 10000.0 + 0.5) / 10000.0 AS intercept,
         floor((n * sxy - sx * sy) * (n * sxy - sx * sy)
           / ((n * sxx - sx * sx) * (n * syy - sy * sy))
           * 10000.0 + 0.5) / 10000.0 AS r2
       FROM s, tot"""

  /** TRAIN-then-APPLY tokenizer metering — the composition that closes
    * the tokenizer loop (text_bpe_train learns the merges,
    * text_bpe_tokens applies a FIXTURE table; a production pipeline
    * meters its corpus with the tokenizer it just trained, because
    * token budgets, packing and cost models are all denominated in
    * TRAINED tokens): per document, word count, non-space chars, the
    * token count under the trained segmentation, and the chars-per-
    * token compression the vocab size bought.
    *
    * The trained tokenizer IS [[bpeTrainState]]'s final per-word
    * symbol assignment — vocabulary-sized, so it BROADCASTS into one
    * hash join against the corpus token stream (exactly how a trained
    * sentencepiece model ships to a fleet of tokenizer workers);
    * out-of-vocabulary words (the len<2 training filter) count as one
    * token. Integer counts + one frac4 ratio. */
  def bpeApply(spark: SparkSession, dir: String, nMerges: Int = 8)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
    val vocab = bpeTrainState(docs, nMerges)._2
      .select(col("word"),
        size(split(trim(col("s")), "  ")).cast("bigint").as("n_sym"))
    docs
      .select(col("doc_id"),
        length(translate(col("text"), " ", "")).cast("bigint")
          .as("n_chars"),
        explode(split(col("text"), " ")).as("word"))
      .join(broadcast(vocab), Seq("word"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(first(col("n_chars")).as("n_chars"),
        count(lit(1)).as("n_words"),
        sum(coalesce(col("n_sym"), lit(1L))).as("n_bpe_trained"))
      .select(col("doc_id"), col("n_words"), col("n_chars"),
        col("n_bpe_trained"),
        (floor(col("n_chars") / col("n_bpe_trained") * 10000.0 + 0.5)
          / 10000.0).as("chars_per_token"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[bpeApply]]: the training chain of
    * [[bpeTrainOracle]] (word column carried through), final state
    * joined back onto the corpus token stream. */
  def bpeApplyOracle(nMerges: Int = 8): String = {
    val chain = bpeChainSql(nMerges)
    s"""WITH $chain,
       docw AS (SELECT doc_id,
           CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
           unnest(string_split(text, ' ')) AS word
         FROM documents),
       tok AS (SELECT doc_id, n_chars,
           coalesce(len(string_split(trim(v.s), '  ')), 1) AS t
         FROM docw LEFT JOIN v$nMerges v USING (word)),
       agg AS (SELECT doc_id, any_value(n_chars) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(t) AS BIGINT) AS n_bpe_trained
         FROM tok GROUP BY doc_id)
       SELECT doc_id, n_words, n_chars, n_bpe_trained,
         floor(CAST(n_chars AS DOUBLE) / n_bpe_trained * 10000.0 + 0.5)
           / 10000.0 AS chars_per_token
       FROM agg ORDER BY doc_id"""
  }

  /** DuckDB restatement of [[bpeTrain]]: the merge loop unrolled as a
    * CTE chain (the Lloyd-oracle precedent) — per round a pair count, a
    * LIMIT-1 argmax, and the same doubled-space replace fuse. Every CTE
    * is MATERIALIZED and referenced exactly once per round (the fuse
    * takes the winner via a one-row cross join, not scalar subqueries):
    * with default inlining each round would copy the previous round's
    * subtree several times over — exponential in nMerges (measured:
    * 8 rounds never finished inlined, 0.5 s materialized). */
  def bpeTrainOracle(nMerges: Int = 8): String = {
    val union = (1 to nMerges)
      .map(t => s"SELECT step, lft, rgt, merged, pair_count FROM b$t")
      .mkString("\n         UNION ALL ")
    s"""WITH ${bpeChainSql(nMerges)}
       SELECT * FROM ($union) m ORDER BY step"""
  }

  /** The shared CTE chain of the BPE oracles: vocab histogram, initial
    * symbol state, and per-round (pair count, argmax, fuse) — the word
    * column rides the whole chain so v$nMerges is the trained per-word
    * tokenizer [[bpeApplyOracle]] joins against. */
  private def bpeChainSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { t =>
      s"""p$t AS MATERIALIZED (SELECT l[i] AS lft, l[i + 1] AS rgt,
           CAST(sum(wc) AS BIGINT) AS pair_count
         FROM (SELECT wc, string_split(trim(s), '  ') AS l FROM v${t - 1}) w,
           LATERAL (SELECT unnest(range(1, len(l))) AS i) u
         GROUP BY 1, 2),
       b$t AS MATERIALIZED (SELECT $t AS step, lft, rgt,
           lft || rgt AS merged, pair_count
         FROM p$t ORDER BY pair_count DESC, lft, rgt LIMIT 1),
       v$t AS MATERIALIZED (SELECT word, wc,
           coalesce(replace(s, ' ' || b.lft || '  ' || b.rgt || ' ',
             ' ' || b.merged || ' '), s) AS s
         FROM v${t - 1} LEFT JOIN b$t b ON TRUE)"""
    }.mkString(",\n       ")
    s"""vocab AS (SELECT word, CAST(count(*) AS BIGINT) AS wc
         FROM (SELECT unnest(string_split(text, ' ')) AS word
           FROM documents) t
         WHERE len(word) >= 2 GROUP BY word),
       v0 AS MATERIALIZED (SELECT word, wc,
           ' ' || array_to_string(list_transform(range(1, len(word) + 1),
             i -> substring(word, i, 1)), '  ') || ' ' AS s
         FROM vocab),
       $rounds"""
  }

  /** [[pack]] with budgets denominated in BPE tokens instead of
    * whitespace tokens — what a training-data packer really meters. */
  def packBpe(spark: SparkSession, dir: String): DataFrame =
    packOf(Tables.documents(spark, dir),
      tokenCount = graft.functions.Bpe.bpe_token_count(col("text"))
        .cast("long"))
      .orderBy(col("source"), col("doc_id"))

  /** Gopher-style repetition signals: fraction of words that are repeats
    * and the share of the most-frequent word / bigram — the filters that
    * catch boilerplate and degenerate (looping) text which length or
    * stopword ratios miss. Per-row array arithmetic over the split
    * (distinct terms x occurrences, bounded by the doc's own length), so
    * the whole thing stays map-side: no shuffle, no UDF. */
  /** Highest per-element frequency in an array, as the longest run of
    * equal adjacent elements after an in-row sort — O(n log n) per doc
    * and pure map-side, where the naive distinct x filter scan is
    * O(distinct x n) and quadratic on a pathological repeat-free long
    * doc. Returns null on an empty array (array_max parity), Int type
    * (size parity). */
  private[operators] def topCount(arr: Column): Column =
    aggregate(array_sort(arr),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("best")),
      (acc, w) => {
        // null prev (first element) compares null === w -> null -> 1
        val r = when(w === acc("prev"), acc("run") + 1).otherwise(lit(1))
        struct(w.as("prev"), r.as("run"),
          greatest(acc("best"), r).as("best"))
      },
      acc => when(acc("best") > 0, acc("best")))

  /** floor(x*1e4+0.5)/1e4, not round(_, 4): ratios of small integers DO
    * land on exact decimal halves (25/32 = .78125), where Spark's
    * string-HALF_UP round and DuckDB's binary round disagree. */
  private[operators] def frac4(num: Column, den: Column): Column =
    floor(num / den * 10000.0 + 0.5) / 10000.0

  def repetitionOf(docs: DataFrame): DataFrame = {
    val words = toks
    val bgs = TextFunctions.word_shingles(col("text"), 2)
    docs
      .withColumn("n_words", size(words))
      .withColumn("top_word_n", topCount(words))
      // a one-word doc has no bigrams: count 0 / share 0.0, never null
      // or a divide-by-zero (ANSI mode makes x/0 an error, and the
      // oracle's bigram aggregate produces no row at all — the guarded
      // branch keeps short documents in the result with equal values)
      .withColumn("top_bigram_n", coalesce(topCount(bgs), lit(0)))
      .withColumn("dup_word_frac",
        frac4(col("n_words") - size(array_distinct(words)), col("n_words")))
      .withColumn("top_word_frac", frac4(col("top_word_n"), col("n_words")))
      .withColumn("top_bigram_frac",
        when(size(bgs) > 0, frac4(col("top_bigram_n"), size(bgs)))
          .otherwise(lit(0.0)))
      .select(col("doc_id"), col("n_words"), col("top_word_n"),
        col("top_bigram_n"), col("dup_word_frac"), col("top_word_frac"),
        col("top_bigram_frac"))
  }

  def repetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.documents(spark, dir)).orderBy(col("doc_id"))

  /** Domain-mixture resampling: keep a per-source quota of floor(weight x
    * count) documents, chosen by content-hash rank — the deterministic
    * way to hit a target source mixture (upweight curated domains,
    * downsample crawl) that is stable across runs, retries and backfills.
    * Weights are a pure function of the source id so the oracle can
    * recompute them; the only data movement is the per-source window
    * (contrast [[graft.operators.Relational.q28StratifiedSample]], which
    * takes a FIXED count per group rather than a proportional quota). */
  def domainMix(spark: SparkSession, dir: String): DataFrame = {
    val srcId = regexp_extract(col("source"), "([0-9]+)", 1).cast("int")
    val wfrac = when(srcId % 3 === 0, 0.25)
      .when(srcId % 3 === 1, 0.5).otherwise(0.75)
    val rw = Window.partitionBy(col("source"))
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
    val cw = Window.partitionBy(col("source"))
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(rw))
      .withColumn("quota", floor(count(lit(1)).over(cw) * wfrac))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("rk"), col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  /** TEMPERATURE-scaled source mixture (the multilingual/domain
    * rebalancing of the GPT-3/PaLM data recipes): sampling probability
    * p_s proportional to n_s^alpha with alpha = 0.5, so under-
    * represented sources are upweighted relative to their raw share
    * and over-represented ones damped — the knob between proportional
    * (alpha 1, [[domainMix]]'s regime) and uniform (alpha 0) mixing.
    *
    * Unlike [[domainMix]]'s per-source fixed fractions, the weights
    * here derive from the GLOBAL per-source counts, so determinism
    * needs care: the weight is the INTEGER isqrt floor(sqrt(n_s))
    * (IEEE sqrt is correctly rounded and n_s is exact, so the floor is
    * engine-identical), the weight total is an integer sum (exact,
    * order-free), and each quota is one integer division
    * budget x w_s div sum(w) — no floating ratio anywhere near a floor
    * boundary. Docs are picked per source by content-hash rank
    * (dup-safe, rerun-stable — the domainMix discipline).
    *
    * Scale posture: two source-count-sized broadcast aggs (counts +
    * weight total) and the per-source rank window — each doc shuffles
    * once on its source key; the quota arithmetic rides the broadcast
    * rows map-side. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val weights = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", floor(sqrt(col("n_docs"))).cast("long"))
    val totals = docs.agg(
      floor(count(lit(1)) / 2.0).cast("long").as("budget"))
    val wsum = weights.agg(sum(col("w")).as("sw"))
    val rw = Window.partitionBy(col("source"))
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
    docs
      .join(broadcast(weights), Seq("source"))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(wsum))
      .withColumn("quota", expr("budget * w div sw"))
      .withColumn("rk", row_number().over(rw))
      .filter(col("rk") <= col("quota"))
      .select(col("source"), col("n_docs"), col("quota"), col("rk"),
        col("doc_id"))
      .orderBy(col("source"), col("rk"))
  }

  /** The end-to-end curation funnel — the canonical pre-training corpus
    * pass, composed from the SAME column definitions the individual
    * operators use (one definition of score / pred_lang / repetition /
    * split, so the funnel can never drift from its parts): quality-score
    * floor, language-agreement filter (predicted == declared), repetition
    * cap, exact dedup keeping the lowest id per hash, then the dup-safe
    * content-hash split. Every filter is a column over one scan — the
    * whole funnel is a single map-side pass plus the one dedup
    * hash-aggregate; nothing joins, nothing sorts until the output. */
  def curate(spark: SparkSession, dir: String, minScore: Double = 0.55,
             maxTopWordFrac: Double = 0.15): DataFrame = {
    val words = toks
    val kept = withLangPrediction(withQuality(Tables.documents(spark, dir)))
      .withColumn("top_word_frac", frac4(topCount(words), size(words)))
      .filter(col("score") >= minScore &&
        col("pred_lang") === col("lang") &&
        col("top_word_frac") <= maxTopWordFrac)
    kept
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("lang"),
        col("score"), col("top_word_frac")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
        col("r.score").as("score"),
        col("r.top_word_frac").as("top_word_frac"),
        splitCol(col("r.text")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** The curation funnel's OBSERVABILITY twin — per-source survival
    * counts through each gate of [[curate]]'s pipeline (raw → quality
    * floor → language agreement → repetition cap → exact-dedup
    * survivor), the yield report every production curation run ships
    * next to its output (a silent stage collapse — a mis-tuned
    * threshold wiping a source — is invisible in the survivor set but
    * obvious in the funnel). Every gate is the SAME column definition
    * its standalone operator uses, so the funnel can never disagree
    * with the pipeline it audits. Cumulative by construction: stage k
    * counts docs passing gates 1..k.
    *
    * Scale shape: flags are one map-side pass over the scan; the only
    * shuffle is the dedup-survivor window keyed on the text hash (the
    * same key dedup_exact aggregates on); the per-source rollup is
    * source-cardinality-sized and the stage unpivot is map-side. */
  def filterFunnel(spark: SparkSession, dir: String,
                   minScore: Double = 0.55,
                   maxTopWordFrac: Double = 0.15): DataFrame = {
    val words = toks
    val flags = withLangPrediction(withQuality(Tables.documents(spark, dir)))
      .withColumn("top_word_frac", frac4(topCount(words), size(words)))
      .withColumn("p1", (col("score") >= minScore).cast("int"))
      .withColumn("p2",
        (col("p1") === 1 && col("pred_lang") === col("lang")).cast("int"))
      .withColumn("p3",
        (col("p2") === 1 && col("top_word_frac") <= maxTopWordFrac)
          .cast("int"))
    val hw = Window.partitionBy(md5(col("text").cast("binary")))
    val surv = flags
      .withColumn("h_min",
        min(when(col("p3") === 1, col("doc_id"))).over(hw))
      .withColumn("p4",
        (col("p3") === 1 && col("doc_id") === col("h_min")).cast("int"))
    surv
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n0"), sum(col("p1")).as("n1"),
        sum(col("p2")).as("n2"), sum(col("p3")).as("n3"),
        sum(col("p4")).as("n4"))
      .select(col("source"), col("n0"),
        expr("""stack(5,
          0, 'raw', n0,
          1, 'quality', n1,
          2, 'lang', n2,
          3, 'repetition', n3,
          4, 'dedup', n4) as (stage_ord, stage, n_docs)"""))
      .select(col("stage_ord"), col("stage"), col("source"),
        col("n_docs").cast("long").as("n_docs"),
        frac4(col("n_docs"), col("n0")).as("retained_frac"))
      .orderBy(col("stage_ord"), col("source"))
  }

  /** The FULL pre-training data pipeline as ONE composed job — the
    * end-to-end flow a 100 TB curation run executes per delivery, every
    * stage the SAME kernel its standalone operator uses (one definition
    * of score / pred_lang / repetition / split / shingle / packing, so
    * the e2e can never drift from its parts):
    *
    *   1. [[curate]]: quality-score floor + language-agreement filter +
    *      repetition cap + exact dedup (lowest-id survivor) + the
    *      dup-safe content-hash split;
    *   2. decontamination of the train split against the funnel's OWN
    *      valid/test splits via rare-shingle overlap ([[decontaminate]]'s
    *      df-capped inverted-index kernel — standalone it uses a
    *      doc_id%10 stand-in for "the benchmark"; here eval membership
    *      is the real split, which is what production decontaminates
    *      against);
    *   3. concat-and-chunk sequence packing ([[packOf]]'s integer
    *      arithmetic) per (split, source, shard) cell — each split packs
    *      independently, so every surviving doc lands with its final
    *      training-sequence placement.
    *
    * Scale posture inherits from the parts: stage 1 is one map-side pass
    * plus the dedup hash-agg; stage 2's inverted shingle index is
    * df-capped (fan-out bounded by maxDF² per shingle) and the verdict
    * join is candidate-sized; stage 3's window partitions are bounded by
    * shardSize docs regardless of source skew. The composition adds NO
    * shuffle the standalone operators don't already have. */
  def llmE2e(spark: SparkSession, dir: String, minScore: Double = 0.55,
             maxTopWordFrac: Double = 0.15, n: Int = 3, maxDF: Int = 20,
             minShared: Int = 3, budget: Int = 128,
             shardSize: Long = 256L): DataFrame = {
    val words = toks
    // NOT fanned out (r22 measured twice): the funnel is a 637 ms
    // single-task stage, but the fan-out exchange ships full document
    // text and measured net-negative here as at the other three funnel
    // consumers (pipeline_llm_e2e 1.3 -> 1.45-1.6 s across probes).
    val kept = withLangPrediction(withQuality(Tables.documents(spark, dir)))
      .withColumn("top_word_frac", frac4(topCount(words), size(words)))
      .filter(col("score") >= minScore &&
        col("pred_lang") === col("lang") &&
        col("top_word_frac") <= maxTopWordFrac)
    val ded = kept
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min_by(struct(col("doc_id"), col("text"), col("source"),
        col("score")), col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("r.source").as("source"), col("r.score").as("score"),
        splitCol(col("r.text")).as("split"))
    val sh = ded.select(col("doc_id"), col("split"),
      explode(array_distinct(TextFunctions.word_shingles(col("text"), n)))
        .as("s"))
    // same bounded-state inverted index as [[decontaminate]]
    // ([[graft.functions.CappedDistinctSet]] — a hot shingle's set dies
    // at the cap inside the aggregation, never on the reducer). The
    // aggregate is long-typed, so the (doc_id, split) element packs
    // into one long — doc_id << 1 | is_train — and unpacks in the
    // map-side array split below; split is a function of doc_id (one
    // split per document), so distinctness is preserved exactly
    val contaminated = sh.groupBy(col("s"))
      .agg(CappedSet.capped_distinct_set(
        shiftleft(col("doc_id"), 1) +
          when(col("split") === "train", 1L).otherwise(0L), maxDF)
        .as("docs"))
      .filter(col("docs").isNotNull)
      .select(
        transform(filter(col("docs"), d => d % 2 === 1),
          x => shiftright(x, 1)).as("tr"),
        transform(filter(col("docs"), d => d % 2 === 0),
          x => shiftright(x, 1)).as("ev"))
      .select(explode(col("tr")).as("train_doc"), col("ev"))
      .select(col("train_doc"), explode(col("ev")).as("eval_doc"))
      .groupBy(col("train_doc"), col("eval_doc"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .select(col("train_doc").as("doc_id")).distinct()
    // the drop list is contamination-density-sized (ids of train docs
    // overlapping the eval splits — a thin slice of the corpus in any
    // run where decontamination is sane), so the verdict anti-join
    // broadcasts it instead of shuffling the whole surviving corpus
    // (the same call the dedup_incremental_minhash plan audit forced)
    val clean = ded.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    val w = Window.partitionBy(col("split"), col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clean
      .withColumn("shard", floor(col("doc_id") / shardSize))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("tok_end", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("split"), col("source"), col("shard"),
        col("score"), col("n_tokens"),
        ((col("tok_end") - col("n_tokens")) % budget).as("bin_offset"),
        floor((col("tok_end") - col("n_tokens")) / budget).cast("long")
          .as("bin_first"),
        floor((col("tok_end") - 1) / budget).cast("long").as("bin_last"))
      .orderBy(col("doc_id"))
  }

  /** The DATASET CARD — the statistics block every released training
    * corpus ships (Gebru et al.'s datasheets, the HF dataset card):
    * computed from the FINAL [[llmE2e]] output so the card describes
    * what actually ships, not what entered the funnel. Sections:
    * `corpus` (raw/kept/dropped docs + whitespace-token mass — the
    * headline retention numbers), `split` (train/valid/test doc and
    * token counts with shares of the kept set), `source` (per-source
    * composition of the kept set — the mixing table consumers read).
    * All counts exact integers; shares one frac4 each.
    *
    * Scale shape: the e2e survivor frame is computed once and
    * checkpointed; every section is a partial-agg rollup over it
    * (split/source cardinality-sized), raw totals are one scan, and
    * the section union is a handful of rows. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = Pins.scope { s =>
    val e2e = s.pin(llmE2e(spark, dir)
      .select(col("split"), col("source"), col("n_tokens")))
    val raw = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("raw_docs"),
        sum(size(toks)).cast("long").as("raw_tokens"))
    val kept = e2e.agg(count(lit(1)).as("kept_docs"),
      sum(col("n_tokens")).as("kept_tokens"))
    val corpus = raw.crossJoin(broadcast(kept)).select(expr(
      """stack(3,
        'corpus', 'raw', raw_docs, raw_tokens, 1.0D,
        'corpus', 'kept', kept_docs, kept_tokens,
          floor(kept_docs / CAST(raw_docs AS DOUBLE) * 10000.0D + 0.5D)
            / 10000.0D,
        'corpus', 'dropped', raw_docs - kept_docs,
          raw_tokens - kept_tokens,
          floor((raw_docs - kept_docs) / CAST(raw_docs AS DOUBLE)
            * 10000.0D + 0.5D) / 10000.0D
      ) as (section, key, n_docs, n_tokens, share)"""))
    def sectionOf(keyCol: String, name: String): DataFrame =
      e2e.groupBy(col(keyCol))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .crossJoin(broadcast(kept))
        .select(lit(name).as("section"), col(keyCol).as("key"),
          col("n_docs"), col("n_tokens"),
          (floor(col("n_docs") / col("kept_docs").cast("double")
            * 10000.0 + 0.5) / 10000.0).as("share"))
    s.pin(corpus
      .unionByName(sectionOf("split", "split"))
      .unionByName(sectionOf("source", "source"))
      .orderBy(col("section"), col("key")))
  }

  /** DuckDB restatement of [[datasetCard]]: the [[llmE2e]] oracle's
    * survivor chain (through decontamination) rolled up per section. */
  def datasetCardOracle(): String = {
    val chain = """wc AS (SELECT doc_id, word, count(*) AS c FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents) u GROUP BY doc_id, word),
         tw AS (SELECT doc_id, max(c) AS top_word_n,
           CAST(sum(c) AS BIGINT) AS n_words FROM wc GROUP BY doc_id),
         q AS (SELECT d.doc_id, d.text, d.lang, d.source,
           floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * CAST(0.3 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a'))) / len(string_split(text, ' ')))
               * CAST(0.3 AS DOUBLE)
             + least(len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE),
                 CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE))
             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(10000.0 AS DOUBLE) AS score,
           len(list_filter(string_split(text, ' '),
             x -> x IN ('the', 'a', 'value', 'row', 'key'))) AS en_hits,
           len(list_filter(string_split(text, ' '),
             x -> x IN ('data', 'table', 'fast', 'line'))) AS es_hits,
           len(list_filter(string_split(text, ' '),
             x -> x IN ('query', 'order', 'merge', 'group'))) AS fr_hits,
           len(list_filter(string_split(text, ' '),
             x -> x IN ('window', 'batch', 'stream', 'sort'))) AS de_hits,
           len(list_filter(string_split(text, ' '),
             x -> x IN ('spark', 'hash', 'join', 'scan'))) AS zh_hits
           FROM documents d),
         f AS (SELECT q.doc_id, q.text, q.lang, q.source, q.score,
           floor(top_word_n / n_words * 10000.0 + 0.5) / 10000.0
             AS top_word_frac,
           CASE
             WHEN en_hits >= es_hits AND en_hits >= fr_hits
               AND en_hits >= de_hits AND en_hits >= zh_hits THEN 'en'
             WHEN es_hits >= fr_hits AND es_hits >= de_hits
               AND es_hits >= zh_hits THEN 'es'
             WHEN fr_hits >= de_hits AND fr_hits >= zh_hits THEN 'fr'
             WHEN de_hits >= zh_hits THEN 'de'
             ELSE 'zh' END AS pred_lang
           FROM q JOIN tw USING (doc_id)),
         kept AS (SELECT * FROM f
           WHERE score >= CAST(0.55 AS DOUBLE) AND pred_lang = lang
             AND top_word_frac <= CAST(0.15 AS DOUBLE)),
         ded0 AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
           FROM kept GROUP BY md5(text)),
         ded AS (SELECT k.doc_id, k.text, k.source,
           CASE WHEN substring(md5(k.text), 1, 2) < 'd0' THEN 'train'
                WHEN substring(md5(k.text), 1, 2) < 'e8' THEN 'valid'
                ELSE 'test' END AS split
           FROM ded0 JOIN kept k ON k.doc_id = ded0.doc_id),
         sh AS (SELECT doc_id, split, unnest(list_distinct(
             list_transform(range(1, len(l) - 1),
               i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2]))) AS s
           FROM (SELECT doc_id, split, string_split(text, ' ') AS l
             FROM ded) t),
         rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 20),
         shf AS (SELECT sh.doc_id, sh.split, sh.s
           FROM sh JOIN rare USING (s)),
         cont AS (SELECT DISTINCT train_doc AS doc_id FROM (
           SELECT tr.doc_id AS train_doc, ev.eval_doc
           FROM (SELECT doc_id, s FROM shf WHERE split = 'train') tr
           JOIN (SELECT doc_id AS eval_doc, s FROM shf
             WHERE split <> 'train') ev USING (s)
           GROUP BY tr.doc_id, ev.eval_doc HAVING count(*) >= 3) t),
         p AS (SELECT split, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM cont))"""
    s"""WITH $chain,
         tot AS (SELECT CAST(count(*) AS BIGINT) AS raw_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS raw_tokens
           FROM documents),
         ks AS (SELECT CAST(count(*) AS BIGINT) AS kept_docs,
           CAST(sum(n_tokens) AS BIGINT) AS kept_tokens FROM p)
       SELECT 'corpus' AS section, 'raw' AS key, raw_docs AS n_docs,
         raw_tokens AS n_tokens, CAST(1.0 AS DOUBLE) AS share FROM tot
       UNION ALL SELECT 'corpus', 'kept', kept_docs, kept_tokens,
         floor(kept_docs / CAST(raw_docs AS DOUBLE) * 10000.0 + 0.5)
           / 10000.0 FROM ks, tot
       UNION ALL SELECT 'corpus', 'dropped', raw_docs - kept_docs,
         raw_tokens - kept_tokens,
         floor((raw_docs - kept_docs) / CAST(raw_docs AS DOUBLE)
           * 10000.0 + 0.5) / 10000.0 FROM ks, tot
       UNION ALL SELECT 'split', split, CAST(count(*) AS BIGINT),
         CAST(sum(n_tokens) AS BIGINT),
         floor(count(*) / CAST(kept_docs AS DOUBLE) * 10000.0 + 0.5)
           / 10000.0 FROM p, ks GROUP BY split, kept_docs
       UNION ALL SELECT 'source', source, CAST(count(*) AS BIGINT),
         CAST(sum(n_tokens) AS BIGINT),
         floor(count(*) / CAST(kept_docs AS DOUBLE) * 10000.0 + 0.5)
           / 10000.0 FROM p, ks GROUP BY source, kept_docs
       ORDER BY section, key"""
  }

  /** The three-way split as a single column expression (shared by
    * [[hashSplitOf]] and [[curate]]). */
  private[graft] def splitCol(text: Column, trainTo: String = "d0",
                                  validTo: String = "e8"): Column = {
    val bucket = substring(md5(text.cast("binary")), 1, 2)
    when(bucket < trainTo, "train")
      .when(bucket < validTo, "valid")
      .otherwise("test")
  }

  /** Winnowing fingerprint per document (rows-only: hash sets have no
    * portable SQL equivalent). One row per (doc, fingerprint-position) —
    * scalar columns only, because the verification harness sorts/hashes
    * values and cannot order array cells. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextFunctions.winnow_fingerprint(col("text")).as("fp"))
      .select(col("doc_id"), size(col("fp")).as("n_fp"),
        posexplode(col("fp")).as(Seq("fp_pos", "fp_hash")))
      .orderBy(col("doc_id"), col("fp_pos"))

  /** [[fingerprint]] restated for the oracle: the winnowing hash values
    * are engine-internal, but the k-gram count and the structural bounds
    * are not. n_kgrams comes from the WINNOW KERNEL's own counting
    * arithmetic ([[TextFunctions.kgram_count]] — the same method that
    * sizes the hash walk), while the oracle recomputes it closed-form
    * from DuckDB's length() (all-ASCII corpus, so UTF-16 units == code
    * points), so a kernel that miscounts k-grams genuinely breaks the
    * hash. The selected set obeys hard structural bounds — one
    * selection per window, distinct, sorted ascending — stated TRUE
    * closed-form by the oracle. k=8, w=16 mirror
    * [[TextFunctions.winnow_fingerprint]] defaults. */
  def fingerprintChecked(spark: SparkSession, dir: String): DataFrame = {
    val nWin = when(col("n_kgrams") < 16, 1)
      .otherwise(col("n_kgrams") - 15)
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextFunctions.kgram_count(col("text")).as("n_kgrams"),
        TextFunctions.winnow_fingerprint(col("text")).as("fp"))
      .select(col("doc_id"), col("n_kgrams"),
        (size(col("fp")) >= 1 &&
          size(col("fp")) <= least(col("n_kgrams"), nWin)).as("ok_bounds"),
        (col("fp") === array_sort(array_distinct(col("fp")))).as("ok_sorted"))
      .orderBy(col("doc_id"))
  }

  // PII patterns kept to the regex subset Java (Spark) and RE2 (DuckDB)
  // agree on: literal classes, bounded repeats — no backrefs, no
  // lookaround. Case handling is explicit A-Z in every class: an
  // all-lowercase pattern silently leaks `User@Example.COM`, the worst
  // failure mode a compliance scrub can have. Redaction parity is
  // proven by hashing the redacted text.
  val EmailRe = "[A-Za-z0-9._]+@[A-Za-z0-9.-]+\\.[A-Za-z]+"
  // one shape for both domestic (+1-555-0042) and international
  // (+44-7700-900123) numbers: +CC-prefix-subscriber with bounded runs
  val PhoneRe = "\\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{4,6}"

  /** Attach the scrub columns (n_emails, n_phones, redacted) for
    * `textCol` — one map-side codegen pass, shared by [[pii]] and the
    * spec's adversarial-case probes. */
  private[graft] def withPiiScrub(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(EmailRe)).cast("bigint"))
      .withColumn("n_phones", regexp_count(col(textCol), lit(PhoneRe)).cast("bigint"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          PhoneRe, "<PHONE>"))

  /** PII scrub pass: count and redact email / phone-shaped spans in one
    * map-side codegen pass — the compliance filter every corpus runs
    * before training. The synthetic corpus contains no PII, so the
    * query surface plants deterministic spans first (doc_id-derived:
    * a MIXED-CASE email on even ids so the oracle hash exercises case
    * handling, a domestic phone on every third doc, an international
    * one on every fifth) and the scrub must find ALL of them; the
    * planted count is part of the oracle-checked output, so a pattern
    * that under-matches fails the hash check rather than silently
    * leaking. */
  def pii(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir)
      .withColumn("aug", concat(col("text"),
        when(col("doc_id") % 2 === 0, " Reach User").otherwise(" reach user"),
        col("doc_id").cast("string"),
        when(col("doc_id") % 2 === 0, "@Example.COM").otherwise("@example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" +1-555-"), lpad((col("doc_id") * 7919 % 10000)
            .cast("string"), 4, "0"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" +44-7700-"), lpad((col("doc_id") * 31 % 1000000)
            .cast("string"), 6, "0"))).otherwise(lit(""))))
    withPiiScrub(planted, "aug")
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        length(col("redacted")).cast("bigint").as("len_redacted"),
        md5(col("redacted").cast("binary")).as("redacted_md5"))
      .orderBy(col("doc_id"))
  }

  /** Cross-document duplicated-SPAN removal — exact substring dedup in
    * its bounded k-gram form (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": drop any span that occurs
    * verbatim elsewhere in the corpus, not just whole-document dups).
    * A word position is duplicated when any k-gram occurrence covering
    * it appears >= 2 times corpus-wide (within- or cross-document);
    * covered positions are cut and the remainder reassembled, reported
    * as (n_tokens, dup_tokens, dup_frac, md5 of the kept text).
    *
    * Scale posture: k-gram occurrences explode map-side from the token
    * array (never a token-level explode); the duplicate decision is one
    * hash aggregation over (kg) with map-side partial combine — only
    * distinct k-grams per partition shuffle, not occurrences — and the
    * surviving duplicate set (typically corpus-dup density, tiny) meets
    * the occurrence stream in a second hash join keyed by kg. Cover
    * positions fold per document, and reassembly is one doc_id-keyed
    * join back to the token arrays. No window over the occurrence
    * stream (a hot k-gram would make that one straggler partition).
    * At 100 TB the same shape holds; the k-gram strings themselves
    * would be xxhash64-folded before the shuffle (kept as strings here
    * so the duplicate decision is collision-free and oracle-exact). */
  def spanDedup(spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("l"))
    // one row per k-gram occurrence: (doc_id, start, kgram text)
    val occ = docs.filter(size(col("l")) >= k)
      .select(col("doc_id"), col("l"),
        explode(sequence(lit(0), size(col("l")) - k)).as("i"))
      .select(col("doc_id"), col("i"),
        concat_ws(" ", slice(col("l"), col("i") + 1, lit(k))).as("kg"))
    val dupKg = occ.groupBy(col("kg"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2).select(col("kg"))
    // positions covered by any duplicated occurrence, folded per doc
    val cov = occ.join(dupKg.hint("shuffle_hash"), Seq("kg"))
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .distinct()
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dup_tokens"), collect_set(col("p")).as("cov"))
    docs.join(cov.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("l")).cast("long").as("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        coalesce(col("cov"), array().cast("array<int>")).as("cov"),
        col("l"))
      .withColumn("kept_text", concat_ws(" ",
        transform(
          filter(
            transform(col("l"), (x, idx) => struct(x.as("t"), idx.as("p"))),
            s => !array_contains(col("cov"), s.getField("p"))),
          s => s.getField("t"))))
      .select(col("doc_id"), col("n_tokens"), col("dup_tokens"),
        // floor(x*1e4+0.5)/1e4, not round: see withQuality
        (floor(col("dup_tokens") / col("n_tokens") * 10000.0 + 0.5) / 10000.0)
          .as("dup_frac"),
        md5(col("kept_text").cast("binary")).as("kept_md5"))
      .orderBy(col("doc_id"))
  }

  /** Per-source robust length-outlier cut via median/MAD — the robust
    * twin of a z-score filter (one mojibake blob or truncation burst
    * can't drag the mean the way it would in [[withQuality]]'s moment
    * stats): robust z = 0.6745 (n_chars - median) / MAD, flag |z| over
    * `cut` (Iglewicz–Hoaglin's modified z-score and its 3.5 default).
    *
    * Scale posture: the per-source median and MAD are exact grouped
    * percentiles here (the q23_median precedent — sf-scale groups);
    * the 100 TB path swaps in mergeable approx_percentile with no
    * other change. Both stat frames are source-count-sized and
    * broadcast back; everything else is map-side.
    *
    * Determinism: medians of integers (and of the dyadic-half absolute
    * deviations) interpolate at g=0.5, which both engines compute
    * exactly whatever the association, so med/MAD are bitwise equal;
    * the z expression is written identically in the oracle. */
  def madOutliers(spark: SparkSession, dir: String,
                  cut: Double = 3.5): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val med = d.groupBy(col("source"))
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val dev = d.join(broadcast(med), Seq("source"))
      .withColumn("adev", abs(col("n_chars") - col("med")))
    val mad = dev.groupBy(col("source"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    val rz = lit(0.6745) * (col("n_chars") - col("med")) / col("mad")
    dev.join(broadcast(mad), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(when(col("mad") === 0d, lit(0d)).otherwise(rz), 4)
          .as("robust_z"),
        when(col("mad") === 0d, lit(false)).otherwise(abs(rz) > cut)
          .as("is_outlier"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[madOutliers]]. */
  def madOutliersOracle(cut: Double = 3.5): String =
    s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
       med AS (SELECT source, quantile_cont(n_chars, 0.5) AS med
         FROM d GROUP BY 1),
       dev AS (SELECT doc_id, d.source, n_chars, med,
           abs(n_chars - med) AS adev
         FROM d JOIN med ON d.source = med.source),
       mad AS (SELECT source, quantile_cont(adev, 0.5) AS mad
         FROM dev GROUP BY 1)
       SELECT doc_id, dev.source, n_chars,
         round(CASE WHEN mad = 0 THEN 0
           ELSE CAST(0.6745 AS DOUBLE) * (n_chars - med) / mad END, 4)
           AS robust_z,
         CASE WHEN mad = 0 THEN FALSE
           ELSE abs(CAST(0.6745 AS DOUBLE) * (n_chars - med) / mad)
             > CAST($cut AS DOUBLE) END AS is_outlier
       FROM dev JOIN mad ON dev.source = mad.source
       ORDER BY doc_id"""

  /** Per-source corpus QUALITY REPORT — the one-look dashboard a
    * curation run publishes per ingest source: doc/token volume, exact
    * duplicate rate, majority predicted language with its doc count,
    * and the mean quality score — composed from the SAME column
    * definitions as text_quality / text_langid / dedup_exact (the
    * pipeline_curate discipline: one definition of each signal).
    *
    * Scale posture: one corpus pass computes every per-doc signal
    * map-side; the per-source rollup is one partial agg (the md5
    * distinct uses the two-phase Expand plan); the language-majority
    * window runs over the tiny (source x lang) count frame. Mean score
    * is float-pinned then floor-rounded (avg of 4-decimal values can
    * land on an exact half at the 5th decimal). */
  def qualityReport(spark: SparkSession, dir: String): DataFrame = {
    val d = withLangPrediction(withQuality(Tables.documents(spark, dir)))
    val base = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).cast("bigint").as("n_tokens"),
        countDistinct(md5(col("text").cast("binary"))).as("n_uniq"),
        avg(col("score")).cast("float").cast("double").as("_ms"))
    val langCounts = d.groupBy(col("source"), col("pred_lang"))
      .agg(count(lit(1)).as("cnt"))
    val wl = Window.partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("pred_lang"))
    val majority = langCounts
      .withColumn("rk", row_number().over(wl)).filter(col("rk") === 1)
      .select(col("source"), col("pred_lang").as("top_lang"),
        col("cnt").as("top_lang_docs"))
    base.join(broadcast(majority), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("n_docs") - col("n_uniq")).as("n_dup_docs"),
        (floor((col("n_docs") - col("n_uniq")) / col("n_docs") * 10000.0
          + 0.5) / 10000.0).as("dup_rate"),
        col("top_lang"), col("top_lang_docs"),
        (floor(col("_ms") * 10000.0 + 0.5) / 10000.0).as("mean_score"))
      .orderBy(col("source"))
  }

  /** PMI-ranked bigram collocations — the phrase-mining pass that
    * tells "New York" from "of the": pointwise mutual information
    * ln(p(ab) / (p(a) p(b))) over adjacent-token bigrams, support
    * floor `minCount` to keep rare-pair noise out, top-N by PMI.
    *
    * Scale posture: unigram and bigram counts are partial-agg
    * shuffles of (term, count) pairs, never documents; the bigram
    * frame meets the unigram counts through two VOCAB-KEYED
    * distributed hash joins (a vocab-sized broadcast would not fit at
    * 100 TB); the two corpus totals are one-row broadcast crosses; the
    * final top-N is a k-sized ordered limit.
    *
    * Determinism: PMI is ln of one division of exact-integer-valued
    * doubles, written with identical association in the oracle (ln
    * bit-parity is the [[tfidf]] precedent); ordering uses the ROUNDED
    * value with a bigram tie-break, so the cut is stable. */
  def collocations(spark: SparkSession, dir: String, minCount: Int = 5,
                   topN: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(explode(split(col("text"), " ")).as("term"))
    val nTotal = toks.agg(count(lit(1)).cast("double").as("n_tok"))
    val uni = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val biAll = docs.select(
      explode(graft.functions.TextFunctions.word_shingles(col("text"), 2))
        .as("bigram"))
    val bTotal = biAll.agg(count(lit(1)).cast("double").as("b_tok"))
    val bi = biAll.groupBy(col("bigram")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .withColumn("a", split(col("bigram"), " ").getItem(0))
      .withColumn("b", split(col("bigram"), " ").getItem(1))
    bi.join(uni.select(col("term").as("a"), col("cnt").as("ca")), Seq("a"))
      .join(uni.select(col("term").as("b"), col("cnt").as("cb")), Seq("b"))
      .crossJoin(broadcast(nTotal)).crossJoin(broadcast(bTotal))
      .select(col("bigram"), col("n_pair"),
        round(log((col("n_pair").cast("double") * col("n_tok") * col("n_tok"))
          / (col("b_tok") * col("ca") * col("cb"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(topN)
  }

  /** DuckDB restatement of [[collocations]]. */
  def collocationsOracle(minCount: Int = 5, topN: Int = 20): String =
    s"""WITH t AS (SELECT string_split(text, ' ') AS l FROM documents),
       tok AS (SELECT unnest(l) AS term FROM t),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n_tok FROM tok),
       uni AS (SELECT term, count(*) AS cnt FROM tok GROUP BY 1),
       ba AS (SELECT unnest(list_transform(range(1, len(l)),
         i -> l[i] || ' ' || l[i + 1])) AS bigram FROM t),
       btot AS (SELECT CAST(count(*) AS DOUBLE) AS b_tok FROM ba),
       bi AS (SELECT bigram, count(*) AS n_pair FROM ba
         GROUP BY 1 HAVING count(*) >= $minCount),
       sp AS (SELECT bigram, n_pair,
           string_split(bigram, ' ')[1] AS a,
           string_split(bigram, ' ')[2] AS b
         FROM bi)
       SELECT bigram, n_pair,
         round(ln((CAST(n_pair AS DOUBLE) * n_tok * n_tok)
           / (b_tok * ua.cnt * ub.cnt)), 4) AS pmi
       FROM sp JOIN uni ua ON sp.a = ua.term
         JOIN uni ub ON sp.b = ub.term, n, btot
       ORDER BY pmi DESC, bigram LIMIT $topN"""

  /** Per-source BOILERPLATE removal — the shard-level repeated-segment
    * strip every web-corpus curation run applies (headers, footers,
    * cookie banners repeat across a domain's pages; a segment that
    * recurs across documents of one source is template, not content).
    * The corpus has no newline structure, so "segment" is a fixed
    * window of `segWords` consecutive words (non-overlapping); a
    * segment is boilerplate when it appears verbatim in >= `minDocs`
    * distinct documents of the SAME source, and the cleaned text is
    * the surviving segments rejoined in order.
    *
    * Scale posture: the segment explosion is narrow (one doc's
    * segments stay in its partition); segment frequencies are one
    * partial-agg shuffle of (source, segment) pairs — never a vocab
    * broadcast; the verdict join shuffles segments once on the same
    * composite key (hot template segments are single rows on the
    * count side of a hash join, not a skewed fan-out); reassembly is
    * one per-doc aggregation whose collect_list is bounded by the
    * document's own length. */
  def boilerplate(spark: SparkSession, dir: String, segWords: Int = 8,
                  minDocs: Int = 2): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
    val seg = docs
      .select(col("doc_id"), col("source"),
        posexplode(transform(
          sequence(lit(0),
            ((size(col("ws")) + lit(segWords - 1)) / lit(segWords))
              .cast("int") - 1),
          i => array_join(
            slice(col("ws"), i * segWords + 1, lit(segWords)), " ")))
          .as(Seq("pos", "seg")))
    val freq = seg.groupBy(col("source"), col("seg"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    seg.join(freq.hint("shuffle_hash"), Seq("source", "seg"))
      .withColumn("keep", col("nd") < minDocs)
      .groupBy(col("doc_id"), col("source"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_boiler"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("seg"))))),
            s => s.getField("seg")), " ").as("clean_text"))
      .withColumn("boiler_frac", frac4(col("n_boiler"), col("n_seg")))
      .select(col("doc_id"), col("source"), col("n_seg"), col("n_boiler"),
        col("boiler_frac"), col("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[boilerplate]]. */
  def boilerplateOracle(segWords: Int = 8, minDocs: Int = 2): String =
    s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws
         FROM documents),
       seg AS (SELECT doc_id, source, CAST(i AS BIGINT) AS pos,
           array_to_string(ws[(i * $segWords + 1):(i * $segWords + $segWords)],
             ' ') AS seg
         FROM w, UNNEST(range((len(ws) + ${segWords - 1}) // $segWords))
           AS t(i)),
       freq AS (SELECT source, seg, count(DISTINCT doc_id) AS nd
         FROM seg GROUP BY 1, 2),
       j AS (SELECT s.doc_id, s.source, s.pos, s.seg, f.nd < $minDocs AS keep
         FROM seg s JOIN freq f USING (source, seg))
       SELECT doc_id, source, count(*) AS n_seg,
         CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_boiler,
         floor(CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS DOUBLE)
           / count(*) * 10000.0 + 0.5) / 10000.0 AS boiler_frac,
         coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY pos),
           '') AS clean_text
       FROM j GROUP BY 1, 2 ORDER BY doc_id"""

  /** Smoothed BIGRAM-LM perplexity proxy — the CCNet-style quality
    * filter one notch above [[xentropy]]'s unigram model: score each
    * document by the mean negative log conditional probability of its
    * adjacent word pairs under the corpus's own add-k-smoothed bigram
    * model, p(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V). Word ORDER now
    * matters — a shuffled document keeps its unigram score but craters
    * here — which is exactly what separates fluent text from keyword
    * soup.
    *
    * Scale posture (the [[collocations]] discipline — NOT word-keyed
    * windows, which ship every occurrence of a hot context word to one
    * partition with no map-side combine): occurrences collapse
    * map-side to (doc, w1, w2, occ), pair counts collapse that to the
    * TYPE-sized (w1, w2, cb) frame, cu falls out of one groupBy over
    * the type frame, and the frames meet through vocab-keyed hash
    * joins (AQE-skew-splittable); V is a one-row broadcast cross. The
    * per-doc mean is occ-weighted on the dyadic 2^-24 grid — each
    * type's nll snaps to an integer once, occ · int is exact, so the
    * mean is order-independent on any partitioning. */
  def perplexity(spark: SparkSession, dir: String,
                 k: Double = 0.5): DataFrame = Pins.scope { s =>
    val Q = 16777216.0 // 2^24
    // fan out (Tables.fanOut — identity at production scan widths): the
    // bigram explode is this key's heavy map kernel, and docs feeds
    // both the bigram and vocab branches through one reused exchange
    val docs = graft.Tables.fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val bi = docs.select(col("doc_id"),
      explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val vocab = docs
      .select(explode(col("ws")).as("t"))
      .agg(countDistinct(col("t")).cast("double").as("vsz"))
    // docBg feeds the pair-count ladder AND the final NLL join, and
    // pairCnt feeds uniCnt AND pFrame — without the checkpoints the
    // corpus bigram explode re-derives THREE times per evaluation
    // (r21 profile: this key's job time tripled its wall). One
    // materialization each; both frames are the compact count ladder
    // (docBg corpus-sized but 4 narrow columns, pairCnt type-sized).
    val docBg = s.pin(bi.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ")))
    val pairCnt = s.pin(docBg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("occ")).as("cb")))
    val uniCnt = pairCnt.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val pFrame = pairCnt.join(uniCnt, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), ((col("cb") + lit(k))
        / (col("cu") + lit(k) * col("vsz"))).as("p"))
    docBg.join(pFrame, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_bigrams"),
        (sum(col("occ") * floor(-log(col("p")) * lit(Q) + lit(0.5)))
          .cast("double") / lit(Q) / sum(col("occ"))).as("x"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("x") * 10000.0 + 0.5) / 10000.0).as("nll"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[perplexity]]: the same group-by count
    * ladder and occ-weighted dyadic-grid NLL. */
  def perplexityOracle(k: Double = 0.5): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         FROM documents),
       b AS (SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2
         FROM w, UNNEST(range(len(ws) - 1)) AS t(i)),
       v AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS vsz
         FROM (SELECT unnest(ws) AS t FROM w)),
       db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS occ
         FROM b GROUP BY doc_id, w1, w2),
       pc AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS cb
         FROM db GROUP BY w1, w2),
       uc AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu
         FROM pc GROUP BY w1),
       pp AS (SELECT w1, w2, (cb + CAST($k AS DOUBLE))
           / (cu + CAST($k AS DOUBLE) * vsz) AS p
         FROM pc JOIN uc USING (w1), v)
       SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
         floor(CAST(sum(occ * CAST(floor(-ln(p) * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
           / CAST(16777216 AS DOUBLE) / sum(occ) * 10000.0 + 0.5)
           / 10000.0 AS nll
       FROM db JOIN pp USING (w1, w2) GROUP BY doc_id ORDER BY doc_id"""

  /** CCNet-style PERPLEXITY BUCKETING — partition the corpus into
    * head / middle / tail thirds by LM fluency (per-doc smoothed-bigram
    * nll from [[perplexity]], the SAME kernel), the standard quality
    * triage a web-crawl curation run applies before choosing what to
    * keep (CCNet keeps head+middle, drops tail; Wenzek et al. 2020).
    *
    * Scale shape: the tercile cut is NOT a global ntile sort — nll is
    * already rounded to 1e-4, so the corpus collapses to a bounded
    * value histogram (cardinality ≈ value range × 1e4, independent of
    * corpus size); thresholds come from a cumulative count over that
    * histogram (one value-sized window), broadcast back as one-row
    * scalars, and bucket assignment is map-side. Ties share a value so
    * they share a bucket — value-determined, partitioning-independent. */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = Pins.scope { s =>
    // the per-doc nll frame feeds the histogram, the doc count AND the
    // final bucket projection — pin once or the whole bigram-LM chain
    // evaluates three times (the returned plan reads it)
    val p = s.pin(perplexity(spark, dir))
    val cum = p.groupBy(col("nll")).agg(count(lit(1)).as("c"))
      .withColumn("cc", sum(col("c")).over(Window.orderBy(col("nll"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val nd = p.agg(count(lit(1)).as("nd"))
    val t1 = cum.crossJoin(broadcast(nd))
      .filter(col("cc") * 3 >= col("nd"))
      .agg(min(col("nll")).as("t1"))
    val t2 = cum.crossJoin(broadcast(nd))
      .filter(col("cc") * 3 >= col("nd") * 2)
      .agg(min(col("nll")).as("t2"))
    p.crossJoin(broadcast(t1)).crossJoin(broadcast(t2))
      .select(col("doc_id"), col("n_bigrams"), col("nll"),
        when(col("nll") <= col("t1"), "head")
          .when(col("nll") <= col("t2"), "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[pplBuckets]]: the [[perplexityOracle]]
    * chain plus the same histogram-threshold cut. */
  def pplBucketsOracle(k: Double = 0.5): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         FROM documents),
       b AS (SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2
         FROM w, UNNEST(range(len(ws) - 1)) AS t(i)),
       v AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS vsz
         FROM (SELECT unnest(ws) AS t FROM w)),
       db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS occ
         FROM b GROUP BY doc_id, w1, w2),
       pc AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS cb
         FROM db GROUP BY w1, w2),
       uc AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu
         FROM pc GROUP BY w1),
       pq AS (SELECT w1, w2, (cb + CAST($k AS DOUBLE))
           / (cu + CAST($k AS DOUBLE) * vsz) AS p
         FROM pc JOIN uc USING (w1), v),
       p AS (SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
           floor(CAST(sum(occ * CAST(floor(-ln(p)
                 * CAST(16777216 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                 AS BIGINT)) AS DOUBLE)
             / CAST(16777216 AS DOUBLE) / sum(occ) * 10000.0 + 0.5)
             / 10000.0 AS nll
         FROM db JOIN pq USING (w1, w2) GROUP BY doc_id),
       h AS (SELECT nll, CAST(count(*) AS BIGINT) AS c
         FROM p GROUP BY nll),
       cum AS (SELECT nll, sum(c) OVER (ORDER BY nll
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
         FROM h),
       n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM p),
       t1 AS (SELECT min(nll) AS t1 FROM cum, n WHERE cc * 3 >= nd),
       t2 AS (SELECT min(nll) AS t2 FROM cum, n WHERE cc * 3 >= nd * 2)
       SELECT doc_id, n_bigrams, nll,
         CASE WHEN nll <= t1 THEN 'head'
              WHEN nll <= t2 THEN 'middle'
              ELSE 'tail' END AS bucket
       FROM p, t1, t2 ORDER BY doc_id"""

  /** Language-ID CONFUSION MATRIX — the eval behind [[langid]]'s
    * point predictions: declared label × predicted label with counts
    * and the row-normalized share, the table that says WHERE the
    * classifier errs (which languages bleed into which) rather than
    * just how often — the difference between "92% accurate" and
    * "all the es→fr mass comes from one template". diag = the
    * per-language recall; off-diagonal hot cells are the marker lists
    * to fix. One scan, one (lang, pred)-keyed partial agg (≤ 25
    * cells), share a window over the declared-language row. */
  def langConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    withLangPrediction(Tables.documents(spark, dir))
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("declared_total", sum(col("n_docs")).over(w))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        col("declared_total"),
        frac4(col("n_docs"), col("declared_total")).as("share"),
        (col("lang") === col("pred_lang")).as("correct"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** DuckDB restatement of [[langConfusion]]: the [[langid]] oracle's
    * marker-count argmax, rolled up to the confusion cells. */
  def langConfusionOracle(): String =
    """WITH q AS (SELECT doc_id, lang,
         len(list_filter(string_split(text, ' '),
           x -> x IN ('the', 'a', 'value', 'row', 'key'))) AS en_hits,
         len(list_filter(string_split(text, ' '),
           x -> x IN ('data', 'table', 'fast', 'line'))) AS es_hits,
         len(list_filter(string_split(text, ' '),
           x -> x IN ('query', 'order', 'merge', 'group'))) AS fr_hits,
         len(list_filter(string_split(text, ' '),
           x -> x IN ('window', 'batch', 'stream', 'sort'))) AS de_hits,
         len(list_filter(string_split(text, ' '),
           x -> x IN ('spark', 'hash', 'join', 'scan'))) AS zh_hits
         FROM documents),
       p AS (SELECT doc_id, lang, CASE
           WHEN en_hits >= es_hits AND en_hits >= fr_hits
             AND en_hits >= de_hits AND en_hits >= zh_hits THEN 'en'
           WHEN es_hits >= fr_hits AND es_hits >= de_hits
             AND es_hits >= zh_hits THEN 'es'
           WHEN fr_hits >= de_hits AND fr_hits >= zh_hits THEN 'fr'
           WHEN de_hits >= zh_hits THEN 'de'
           ELSE 'zh' END AS pred_lang
         FROM q),
       c AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
         FROM p GROUP BY lang, pred_lang)
       SELECT lang, pred_lang, n_docs,
         CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
           AS declared_total,
         floor(n_docs / CAST(sum(n_docs) OVER (PARTITION BY lang)
           AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS share,
         lang = pred_lang AS correct
       FROM c ORDER BY lang, pred_lang"""

  /** SFT RENDERING with LOSS MASKS — the instruction-tuning data
    * assembly step: adjacent documents pair as (prompt, response)
    * turns, each pair renders through the chat template
    * `<|user|> {p} <|assistant|> {r}`, and the operator emits the
    * token-space loss span (train the loss ONLY on assistant tokens —
    * the mask every SFT trainer consumes) plus the rendered string's
    * exact length and md5, so the oracle re-renders the template
    * byte-identically and any template or pairing drift breaks the
    * hash. Token space is whitespace tokens: the two template markers
    * count one token each, so loss_from = prompt_tokens + 3 (after
    * the user marker, the prompt, and the assistant marker) through
    * loss_to = n_tokens.
    *
    * Scale shape: one pair_id-keyed equi-join (the only shuffle);
    * template assembly, token counts, and the digest are map-side
    * codegen'd string ops. */
  def sftRender(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val p = d.filter(col("doc_id") % 2 === 0)
      .select(expr("doc_id div 2").as("pair_id"),
        col("doc_id").as("prompt_id"), col("text").as("ptext"))
    val r = d.filter(col("doc_id") % 2 === 1)
      .select(expr("doc_id div 2").as("pair_id"),
        col("doc_id").as("response_id"), col("text").as("rtext"))
    val pt = size(split(col("ptext"), " ")).cast("long")
    val rt = size(split(col("rtext"), " ")).cast("long")
    val rendered = concat(lit("<|user|> "), col("ptext"),
      lit(" <|assistant|> "), col("rtext"))
    p.join(r, Seq("pair_id"))
      .select(col("pair_id"), col("prompt_id"), col("response_id"),
        pt.as("prompt_tokens"), rt.as("response_tokens"),
        (pt + rt + 2L).as("n_tokens"),
        (pt + 3L).as("loss_from"),
        (pt + rt + 2L).as("loss_to"),
        length(rendered).cast("long").as("n_chars"),
        md5(rendered.cast("binary")).as("render_md5"))
      .orderBy(col("pair_id"))
  }

  /** DuckDB restatement of [[sftRender]]: the template re-rendered
    * with string concatenation, token counts from the same split. */
  def sftRenderOracle(): String =
    """WITH p AS (SELECT doc_id // 2 AS pair_id, doc_id AS prompt_id,
           text AS ptext FROM documents WHERE doc_id % 2 = 0),
       r AS (SELECT doc_id // 2 AS pair_id, doc_id AS response_id,
           text AS rtext FROM documents WHERE doc_id % 2 = 1)
       SELECT pair_id, prompt_id, response_id,
         CAST(len(string_split(ptext, ' ')) AS BIGINT) AS prompt_tokens,
         CAST(len(string_split(rtext, ' ')) AS BIGINT) AS response_tokens,
         CAST(len(string_split(ptext, ' '))
           + len(string_split(rtext, ' ')) + 2 AS BIGINT) AS n_tokens,
         CAST(len(string_split(ptext, ' ')) + 3 AS BIGINT) AS loss_from,
         CAST(len(string_split(ptext, ' '))
           + len(string_split(rtext, ' ')) + 2 AS BIGINT) AS loss_to,
         CAST(length('<|user|> ' || ptext || ' <|assistant|> ' || rtext)
           AS BIGINT) AS n_chars,
         md5('<|user|> ' || ptext || ' <|assistant|> ' || rtext)
           AS render_md5
       FROM p JOIN r USING (pair_id) ORDER BY pair_id"""

  /** Held-out N-GRAM NOVELTY — for each VALID-split document, the
    * fraction of its distinct word bigrams never seen in the TRAIN
    * split (the dup-safe [[splitCol]] hash split, so a duplicated text
    * can never sit on both sides): the memorization/generalization
    * probe run next to [[lmHeldout]] — a valid shard whose bigrams are
    * all in train measures memorization, not generalization, and a
    * spike in novelty flags a domain the train shard never covered.
    *
    * Scale shape: one explode per side, the train bigram-type set
    * stays DISTRIBUTED (shingle-keyed equi-join — at 100 TB the train
    * type set is corpus-scale and can never broadcast), membership via
    * LEFT join marker, per-doc rollup on the valid side only. */
  def ngramNovelty(spark: SparkSession, dir: String, n: Int = 2)
      : DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), splitCol(col("text")).as("split"))
    val bg = docs.select(col("doc_id"), col("split"),
      explode(array_distinct(TextFunctions.word_shingles(col("text"), n)))
        .as("bg"))
    val trainBg = bg.filter(col("split") === "train")
      .select(col("bg")).distinct()
    bg.filter(col("split") === "valid")
      .join(trainBg.withColumn("seen", lit(1L)), Seq("bg"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_types"),
        coalesce(sum(col("seen")), lit(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_types"), col("n_seen"),
        frac4(col("n_types") - col("n_seen"), col("n_types"))
          .as("novel_frac"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[ngramNovelty]]. */
  def ngramNoveltyOracle(): String =
    """WITH d AS (SELECT doc_id, text,
         CASE WHEN substring(md5(text), 1, 2) < 'd0' THEN 'train'
              WHEN substring(md5(text), 1, 2) < 'e8' THEN 'valid'
              ELSE 'test' END AS split FROM documents),
       l AS (SELECT doc_id, split, string_split(text, ' ') AS ws FROM d),
       g AS (SELECT doc_id, split,
           unnest(list_distinct(list_transform(range(1, len(ws)),
             i -> ws[i] || ' ' || ws[i + 1]))) AS bg FROM l),
       tr AS (SELECT DISTINCT bg FROM g WHERE split = 'train'),
       va AS (SELECT doc_id, bg FROM g WHERE split = 'valid'),
       j AS (SELECT va.doc_id,
           CASE WHEN tr.bg IS NULL THEN 0 ELSE 1 END AS seen
         FROM va LEFT JOIN tr ON va.bg = tr.bg)
       SELECT doc_id, CAST(count(*) AS BIGINT) AS n_types,
         CAST(sum(seen) AS BIGINT) AS n_seen,
         floor((count(*) - sum(seen)) / CAST(count(*) AS DOUBLE)
           * 10000.0 + 0.5) / 10000.0 AS novel_frac
       FROM j GROUP BY doc_id ORDER BY doc_id"""

  /** TEXT corpus drift — [[graft.operators.Similarity.drift]]'s lexical
    * twin: per-term relative frequency compared between a reference
    * slice (even doc_ids, standing for the standing corpus) and a
    * candidate slice (odd doc_ids, the new delivery), surfacing the
    * topN movers by absolute frequency delta. The "crawl changed under
    * me" tripwire a recurring ingest runs before admitting a delivery —
    * a source swap, template change, or spam surge moves term mass long
    * before aggregate quality scores notice.
    *
    * Scale posture: ONE slice-conditional partial agg over the token
    * stream (term-keyed — never a vocab broadcast), slice totals as a
    * one-row broadcast scalar, and the topN cut via a single
    * rank-window over the TERM frame (vocabulary-sized, not
    * corpus-sized). Frequencies are exact integer ratios; frac6
    * display (drift deltas live at 1e-3). */
  def textDrift(spark: SparkSession, dir: String, topN: Int = 20)
      : DataFrame =
    textDriftOf(Tables.documents(spark, dir), topN)

  /** [[textDrift]]'s kernel over any (doc_id, text) frame — split out
    * so the spec can drive planted slices (identical slices -> zero
    * delta everywhere, a planted one-slice term -> the top mover). */
  private[graft] def textDriftOf(docs: DataFrame, topN: Int = 20)
      : DataFrame = {
    def frac6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0
    val toksTagged = docs
      .select((col("doc_id") % 2 === 0).as("ref"),
        explode(split(col("text"), " ")).as("term"))
    val perTerm = toksTagged.groupBy(col("term"))
      .agg(sum(when(col("ref"), 1L).otherwise(0L)).as("c_ref"),
        sum(when(!col("ref"), 1L).otherwise(0L)).as("c_cand"))
    val totals = perTerm.agg(sum(col("c_ref")).as("t_ref"),
      sum(col("c_cand")).as("t_cand"))
    val ranked = perTerm.crossJoin(broadcast(totals))
      .select(col("term"), col("c_ref"), col("c_cand"),
        (col("c_ref").cast("double") / col("t_ref")).as("p_ref"),
        (col("c_cand").cast("double") / col("t_cand")).as("p_cand"))
      .withColumn("delta", abs(col("p_ref") - col("p_cand")))
      .withColumn("rk", row_number().over(Window
        .orderBy(col("delta").desc, col("term"))))
      .filter(col("rk") <= topN)
    ranked.select(col("rk"), col("term"), col("c_ref"), col("c_cand"),
      frac6(col("p_ref")).as("p_ref"), frac6(col("p_cand")).as("p_cand"),
      frac6(col("delta")).as("delta"))
      .orderBy(col("rk"))
  }

  /** DuckDB restatement of [[textDrift]]. */
  def textDriftOracle(topN: Int = 20): String =
    s"""WITH t AS (SELECT doc_id % 2 = 0 AS ref,
           unnest(string_split(text, ' ')) AS term
         FROM documents),
       pt AS (SELECT term,
           CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS c_ref,
           CAST(sum(CASE WHEN NOT ref THEN 1 ELSE 0 END) AS BIGINT)
             AS c_cand
         FROM t GROUP BY term),
       tot AS (SELECT CAST(sum(c_ref) AS BIGINT) AS t_ref,
           CAST(sum(c_cand) AS BIGINT) AS t_cand FROM pt),
       r AS (SELECT term, c_ref, c_cand,
           CAST(c_ref AS DOUBLE) / t_ref AS p_ref,
           CAST(c_cand AS DOUBLE) / t_cand AS p_cand,
           abs(CAST(c_ref AS DOUBLE) / t_ref
             - CAST(c_cand AS DOUBLE) / t_cand) AS delta
         FROM pt, tot),
       rk AS (SELECT *, row_number() OVER (ORDER BY delta DESC, term)
           AS rk FROM r)
       SELECT rk, term, c_ref, c_cand,
         floor(p_ref * 1000000.0 + 0.5) / 1000000.0 AS p_ref,
         floor(p_cand * 1000000.0 + 0.5) / 1000000.0 AS p_cand,
         floor(delta * 1000000.0 + 0.5) / 1000000.0 AS delta
       FROM rk WHERE rk <= $topN ORDER BY rk"""

  /** HELD-OUT language-model scoring — the train->apply composition of
    * [[perplexity]]: bigram statistics come ONLY from the train shard of
    * the dup-safe content-hash split ([[splitCol]]), and the held-out
    * valid/test documents are scored against them. Self-perplexity (what
    * [[perplexity]] measures) rewards memorized duplicates; held-out nll
    * is the quality signal a curation pipeline actually gates on — the
    * same train-then-apply asymmetry emb_pq_trained closes for PQ.
    * Unseen-in-train histories degrade smoothly under add-k smoothing
    * (an unseen bigram scores -ln(k/(cu + k*V)), an unseen history
    * -ln(1/V)).
    *
    * Scale posture: identical to [[perplexity]]'s count ladder — the
    * train model collapses map-side to the TYPE-sized (w1, w2, cb)
    * frame and its per-context rollup, and heldout doc-bigrams meet it
    * through vocab-keyed LEFT hash joins (coalesce 0 = unseen; never a
    * vocab broadcast, never a word-keyed window exchange); the train
    * vocab is a one-row broadcast scalar; the split column rides the
    * same scan, so train+apply is ONE corpus pass. NLL occ-weighted on
    * the dyadic grid (order-independent). */
  def lmHeldout(spark: SparkSession, dir: String,
                k: Double = 0.5): DataFrame = {
    val Q = 16777216.0 // 2^24
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), splitCol(col("text")).as("split"),
        split(col("text"), " ").as("ws"))
    val bi = docs.select(col("doc_id"), col("split"),
      explode(zip_with(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("doc_id"), col("split"),
        col("p.w1").as("w1"), col("p.w2").as("w2"))
    val vocab = docs.filter(col("split") === "train")
      .select(explode(col("ws")).as("t"))
      .agg(countDistinct(col("t")).cast("double").as("vsz"))
    val trainPair = bi.filter(col("split") === "train")
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val trainUni = trainPair.groupBy(col("w1")).agg(sum(col("cb")).as("cu"))
    val docBg = bi.filter(col("split") =!= "train")
      .groupBy(col("doc_id"), col("split"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ"))
    docBg
      .join(trainPair, Seq("w1", "w2"), "left_outer")
      .join(trainUni, Seq("w1"), "left_outer")
      .crossJoin(broadcast(vocab))
      .withColumn("p", (coalesce(col("cb"), lit(0L)) + lit(k))
        / (coalesce(col("cu"), lit(0L)) + lit(k) * col("vsz")))
      .groupBy(col("doc_id"), col("split"))
      .agg(sum(col("occ")).as("n_bigrams"),
        (sum(col("occ") * floor(-log(col("p")) * lit(Q) + lit(0.5)))
          .cast("double") / lit(Q) / sum(col("occ"))).as("x"))
      .select(col("doc_id"), col("split"), col("n_bigrams"),
        (floor(col("x") * 10000.0 + 0.5) / 10000.0).as("nll"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[lmHeldout]]: the same train-count ladder
    * met through LEFT joins (coalesce 0 = unseen), occ-weighted
    * dyadic-grid NLL. */
  def lmHeldoutOracle(k: Double = 0.5): String =
    s"""WITH w AS (SELECT doc_id,
         CASE WHEN substring(md5(text), 1, 2) < 'd0' THEN 'train'
              WHEN substring(md5(text), 1, 2) < 'e8' THEN 'valid'
              ELSE 'test' END AS split,
         string_split(text, ' ') AS ws
         FROM documents),
       b AS (SELECT doc_id, split, ws[i + 1] AS w1, ws[i + 2] AS w2
         FROM w, UNNEST(range(len(ws) - 1)) AS t(i)),
       v AS (SELECT CAST(count(DISTINCT t) AS DOUBLE) AS vsz
         FROM (SELECT unnest(ws) AS t FROM w WHERE split = 'train')),
       tp AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
         FROM b WHERE split = 'train' GROUP BY w1, w2),
       tu AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu
         FROM tp GROUP BY w1),
       db AS (SELECT doc_id, split, w1, w2, CAST(count(*) AS BIGINT) AS occ
         FROM b WHERE split <> 'train' GROUP BY doc_id, split, w1, w2),
       pp AS (SELECT doc_id, split, occ,
           (coalesce(cb, 0) + CAST($k AS DOUBLE))
             / (coalesce(cu, 0) + CAST($k AS DOUBLE) * vsz) AS p
         FROM db LEFT JOIN tp USING (w1, w2) LEFT JOIN tu USING (w1), v)
       SELECT doc_id, split, CAST(sum(occ) AS BIGINT) AS n_bigrams,
         floor(CAST(sum(occ * CAST(floor(-ln(p) * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
           / CAST(16777216 AS DOUBLE) / sum(occ) * 10000.0 + 0.5)
           / 10000.0 AS nll
       FROM pp GROUP BY doc_id, split ORDER BY doc_id"""

  /** Hashed-feature LINEAR QUALITY CLASSIFIER inference — the
    * fasttext-shaped scorer (hashing trick over tokens, mean of
    * per-bucket weights, thresholded logit) that curation stacks run
    * as the learned quality filter. The container ships no trained
    * model, so the weight table is a deterministic closed-form fixture
    * (Knuth-multiplier pseudo-weights over 256 md5 buckets) standing
    * in for learned parameters — the Spark-side plumbing (map-side
    * feature hashing, per-doc mean, no shuffle except the per-doc
    * agg) is the real thing and is what the oracle pins.
    *
    * Determinism: every weight is a dyadic rational (n/2^16 - 1/2), so
    * the per-doc SUM is exact in double arithmetic regardless of
    * summation order — the mean's single rounding is the only FP op,
    * identical on both engines. Scale: pure map + one partial agg;
    * the weight "table" is a formula, so there is nothing to
    * broadcast. */
  def classifierScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val hex = "0123456789abcdef"
    val b = (expr(s"locate(substring(md5(cast(term as binary)), 1, 1), '$hex') - 1")
      * 16 +
      expr(s"locate(substring(md5(cast(term as binary)), 2, 1), '$hex') - 1"))
      .cast("bigint")
    val wgt = ((b * lit(2654435761L)) % 65536L).cast("double") / 65536.0 - 0.5
    toks.withColumn("w", wgt)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("w")) * 4.0 - 0.125, 4).as("logit"))
      .withColumn("keep", col("logit") > 0.0)
      .orderBy(col("doc_id"))
  }

  /** TRAINED quality classifier — the train->apply composition
    * [[classifierScore]] lacks (its weights are a fixture formula; a
    * production curation stack TRAINS the scorer): weak labels from the
    * heuristic quality kernel (y = score >= minScore — the standard
    * weak-supervision loop, rules label the data that trains the learned
    * filter; the default threshold sits at the corpus MEDIAN score so
    * the classes balance — an extreme threshold makes GD converge to
    * the majority vote instead of a discriminative boundary), hashed
    * bag-of-words features (the same 256 md5 buckets as inference),
    * `steps` full-batch logistic gradient-descent rounds, then every
    * doc scored by the trained weights.
    *
    * Determinism engineering (what makes a TRAINED model hash-check):
    * the link is the RATIONAL "fast sigmoid" 0.5 + z/(2(1+|z|)) — no
    * libm exp anywhere, so every per-element op is IEEE-identical on
    * both engines; the only order-sensitive ops are the dot-product and
    * gradient SUMS, and each is made order-INDEPENDENT by quantizing
    * every term to a dyadic grid BEFORE the aggregate — each product is
    * floored to an integer multiple of 2^-24 and summed as a LONG
    * (integer addition is exact and commutative), then divided back
    * once. This is strictly stronger than the float-cast-after-sum
    * discipline used elsewhere: that one only collapses drift when the
    * double sum sits far from a float rounding boundary (probabilistic;
    * r10's driver run found the counterexample — one boundary hit
    * compounding through 4 weight updates), whereas an integer sum is
    * bitwise identical on ANY partitioning by construction.
    * x = cnt/n_tokens is one exact division per feature.
    *
    * Scale posture: feats is a (doc, bucket)-keyed frame of at most
    * nBuckets rows per doc, localCheckpointed once and reused every
    * round; the weight table is nBuckets rows and BROADCASTS into the
    * scoring join (weights always broadcast); the error frame is
    * doc-keyed and meets feats in a doc-co-partitioned shuffle-hash
    * join (never a corpus broadcast); each round shuffles one doc-keyed
    * agg + one nBuckets-keyed agg. Per-round localCheckpoint caps the
    * plan, loop count is a constant hyper-parameter. */
  def classifierTrain(spark: SparkSession, dir: String, nBuckets: Int = 256,
                      steps: Int = 4, lr: Double = 4.0,
                      minScore: Double = 0.64): DataFrame = {
    require(nBuckets == 256, "bucket expr is the 2-hex-digit md5 prefix")
    val labeled = withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"),
        (col("score") >= minScore).cast("int").as("y"))
    val feats = classifierFeats(labeled)
    val w = classifierGd(feats, steps, lr)
    classifierZ(feats, w)
      .select(col("doc_id"), col("y"),
        (floor(col("z") * 10000.0 + 0.5) / 10000.0).as("logit"),
        (col("z") > 0.0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Hashed bag-of-words features for any labeled (doc_id, text, y)
    * frame — [[classifierTrain]]'s feature kernel, shared with the
    * held-out eval: term-frequency x per (doc, md5-bucket), plus an
    * intercept pseudo-feature (b = -1, x = 1) — without it the model
    * has no bias term and can only rotate the boundary through the
    * origin. Pinned once (handed over to the caller); every GD round
    * reuses it. */
  private[graft] def classifierFeats(labeled: DataFrame): DataFrame =
    Pins.scope { s =>
    val hex = "0123456789abcdef"
    val bkt = (expr(s"locate(substring(md5(cast(term as binary)), 1, 1), '$hex') - 1")
      * 16 +
      expr(s"locate(substring(md5(cast(term as binary)), 2, 1), '$hex') - 1"))
      .cast("bigint")
    s.pin(labeled
      .select(col("doc_id"), col("y"), explode(split(col("text"), " ")).as("term"))
      .withColumn("b", bkt)
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("x", col("cnt").cast("double")
        / sum(col("cnt")).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("y"), col("b"), col("x"))
      .unionByName(labeled.select(col("doc_id"), col("y"),
        lit(-1L).as("b"), lit(1.0).as("x"))))
  }

  /** The dyadic quantization grid shared by the classifier's sums:
    * terms snap to multiples of 2^-24 and sum as longs (exact,
    * order-independent); magnitudes are bounded — |w| <= lr*steps ~ 16,
    * x <= 1, so a per-doc dot sum is < 257*16*2^24 ~ 7e10 and a
    * per-bucket gradient sum is < nd*2^24 — far inside long range, and
    * the final sums are < 2^53 so the one cast back to double is
    * exact. */
  private val DyadicQ = 16777216.0 // 2^24

  /** Order-independent dot product z per doc: feats x broadcast
    * weights, dyadic-grid integer sum. */
  private[graft] def classifierZ(feats: DataFrame, w: DataFrame)
      : DataFrame =
    feats.join(broadcast(w), Seq("b"))
      .groupBy(col("doc_id"), col("y"))
      .agg((sum(floor(col("x") * col("w") * lit(DyadicQ) + lit(0.5)))
        .cast("double") / lit(DyadicQ)).as("z"))

  /** Full-batch logistic gradient descent over a feature frame —
    * returns the trained (b, w) table. The gradient is the MEAN over
    * docs, not the sum: a sum-gradient's effective step grows linearly
    * with corpus size — it oscillates at 500 docs and diverges outright
    * at 100 TB; the mean makes the step size corpus-size-invariant
    * (measured: the same steps/lr stay stable and non-degenerate at
    * 10x data, where the sum-gradient form had already flipped every
    * verdict to one class at 1x). The rational sigmoid has no exp, so
    * the per-element math cannot diverge; both sums ride the dyadic
    * grid ([[DyadicQ]]). nd is the intercept-row count — one row per
    * doc by construction. */
  private[graft] def classifierGd(feats: DataFrame, steps: Int,
                                  lr: Double): DataFrame = Pins.scope { s =>
    val spark = feats.sparkSession
    import spark.implicits._
    // The feature frame, hash-partitioned by doc_id ONCE and
    // checkpointed: every GD step is then a single whole-stage-codegen
    // pass — the per-row dyadic term looks its weight up in a FOLDED
    // 257-entry array literal (the model is driver state under the
    // Scalars discipline — bucket-count-sized, corpus-independent), z
    // is an exchange-free window sum over the established doc_id
    // partitioning, and one bucket-keyed partial agg lands the
    // gradient, collected bucket-count-sized per step. The old loop
    // paid, per step, a broadcast build + feats x w join, a doc-keyed
    // shuffle-hash err join, and a weight checkpoint (r21 profile:
    // most of the key's wall was those stage-jobs). Bit-parity: every
    // sum is the same dyadic-grid LONG (order-independent, exact), the
    // per-element terms keep the exact ((x*w)*Q)+0.5 association, and
    // the driver-side update w - lr*g is the identical double
    // expression — so the weight trajectory, and every downstream
    // logit, is bit-equal to the joined form.
    val featsP = s.pin(feats.repartition(col("doc_id")))
    // one job: distinct buckets AND the doc count (= the intercept
    // pseudo-feature's row count, exactly the old nd frame's value)
    val bCounts = featsP.groupBy(col("b")).agg(count(lit(1)).as("c"))
      .collect()
    val bs: Array[Long] = bCounts.map(_.getLong(0)).sorted
    val nd = bCounts.find(_.getLong(0) == -1L)
      .map(_.getLong(1)).getOrElse(0L).toDouble
    val wm = scala.collection.mutable.LinkedHashMap(bs.map(_ -> 0.0): _*)
    def sig(z: Column): Column = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    val wDoc = Window.partitionBy(col("doc_id"))
    for (_ <- 0 until steps) {
      // weight lookup: array literal indexed by b+2 (b in -1..255);
      // ConstantFolding collapses the CreateArray of literals, so
      // element_at is one O(1) codegen'd read per row — absent buckets
      // hold 0.0 and are never referenced (feats only carries present b)
      val maxB = if (bs.isEmpty) -1L else bs.max
      val wArr = Array.fill(math.max((maxB + 2).toInt, 0))(0.0)
      wm.foreach { case (b, v) => wArr((b + 1).toInt) = v }
      val waCol = array(wArr.toIndexedSeq.map(lit): _*)
      val qterm = floor(col("x")
        * element_at(waCol, (col("b") + lit(2L)).cast("int"))
        * lit(DyadicQ) + lit(0.5))
      val zCol = sum(qterm).over(wDoc).cast("double") / lit(DyadicQ)
      val grad = featsP
        .select(col("b"), col("x"), (sig(zCol) - col("y")).as("err"))
        .groupBy(col("b"))
        .agg(sum(floor(col("err") * col("x") * lit(DyadicQ) + lit(0.5)))
          .as("gq"))
        .collect()
      grad.foreach { r =>
        val b = r.getLong(0)
        val g = r.getLong(1).toDouble / DyadicQ / nd
        wm(b) = wm(b) - lr * g
      }
    }
    wm.toSeq.toDF("b", "w")
  }

  /** Interpolated KNESER-NEY bigram perplexity — the industry-standard
    * n-gram smoothing ([[perplexity]] is add-k; every serious n-gram
    * LM since Chen & Goodman 1999 uses absolute discounting with
    * CONTINUATION counts): p(w2|w1) = max(c(w1w2)−D, 0)/c(w1·) +
    * D·N1+(w1·)/c(w1·) · N1+(·w2)/T — the lower-order weight is how
    * many DISTINCT contexts a word follows (N1+(·w2)), not how often
    * it occurs, which is exactly what separates "Francisco" (frequent
    * but only after "San") from genuinely versatile words. Per doc the
    * mean negative log-likelihood under the corpus's own model — the
    * sharper quality/fluency signal the add-k rung approximates.
    *
    * Scale posture (the [[collocations]] discipline — NOT windows): a
    * window partitioned by a word key ships every occurrence of that
    * word to ONE partition with no map-side combine, and on a Zipfian
    * corpus the "the"-partition holds a constant fraction of all
    * bigram mass — the one-straggler failure mode. Instead the whole
    * model lives as PARTIAL-AGG count frames: occurrences collapse
    * map-side to (doc, w1, w2, occ), pair counts collapse that to the
    * TYPE-sized (w1, w2, cb) frame, and the per-word quantities both
    * fall out of one groupBy over the type frame — cu = Σ cb and
    * n1f = row count per w1 (distinct-follower counting without a
    * distinct agg), n1b = row count per w2. The frames meet through
    * vocab-keyed hash joins (AQE-skew-splittable, unlike a window
    * exchange); the type total T is a one-row broadcast cross; the
    * per-doc NLL joins the doc-bigram frame to the type-sized p frame
    * bigram-keyed (hot types are single build-side rows). Per-doc NLL
    * rides the dyadic 2^-24 grid (classifier discipline —
    * order-independent on any partitioning, and exactly occ-weighted:
    * occ · floor(·) == the per-occurrence integer sum); ln parity per
    * element (the PSI precedent). */
  def knPerplexity(spark: SparkSession, dir: String,
                   discount: Double = 0.75): DataFrame =
    knPerplexityOf(Tables.documents(spark, dir), discount)

  /** [[knPerplexity]]'s kernel over any (doc_id, text) frame — split
    * out so the spec can plant the continuation-count corpus (the
    * "Francisco" effect needs a constructed context structure). */
  private[graft] def knPerplexityOf(docs: DataFrame,
                                    discount: Double = 0.75): DataFrame = {
    // ONE tokenization pass per document (the word_shingles kernel —
    // the r18 profile found the old transform+element_at-over-split
    // form re-splitting the document per bigram ENDPOINT, O(words²)
    // map work per doc); a shingle carries exactly one separator
    // space (tokens of a single-space split cannot contain one), so
    // substring_index recovers w1/w2 losslessly, empties included
    val bgs = docs
      .select(col("doc_id"),
        explode(TextFunctions.word_shingles(col("text"), 2)).as("sh"))
      // words become xxhash64 longs BEFORE the agg ladder: no output
      // column carries a word (only doc_id / counts / nll surface), so
      // every count below is identical under any injective recoding,
      // and the two shuffle ladders (doc-bigram, pair-count) move 16
      // fixed bytes per key instead of two variable-length strings —
      // at 100 TB the bigram shuffle is this operator's cost. The
      // recoding is injective in practice: a 64-bit collision needs
      // ~2^32 distinct words to reach even-odds; a corpus vocabulary
      // is orders of magnitude below that, and a collision would only
      // merge one word pair's counts inside an already-smoothed LM
      // statistic. The oracle keeps the string keys (same counts).
      .select(col("doc_id"),
        xxhash64(substring_index(col("sh"), " ", 1)).as("w1"),
        xxhash64(substring_index(col("sh"), " ", -1)).as("w2"))
    // Map-side combine ladder: occurrences -> per-doc types -> types.
    val docBg = bgs.groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("occ"))
    val pairCnt = docBg.groupBy(col("w1"), col("w2"))
      .agg(sum(col("occ")).as("cb"))
    // cu and n1f from ONE pass over the type-sized frame: each row of
    // pairCnt is one distinct (w1, w2) type, so count(*) per w1 IS
    // N1+(w1 .) and sum(cb) per w1 IS c(w1 .).
    val uniCnt = pairCnt.groupBy(col("w1"))
      .agg(sum(col("cb")).as("cu"), count(lit(1)).as("n1f"))
    val folCnt = pairCnt.groupBy(col("w2"))
      .agg(count(lit(1)).as("n1b"))
    val types = pairCnt.agg(count(lit(1)).cast("double").as("t"))
    val p = greatest(col("cb") - lit(discount), lit(0.0)) / col("cu") +
      lit(discount) * col("n1f") / col("cu") * (col("n1b") / col("t"))
    val pFrame = pairCnt
      .join(uniCnt, Seq("w1"))
      .join(folCnt, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), p.as("p"))
    docBg.join(pFrame, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_bigrams"),
        (sum(col("occ") * floor(-log(col("p")) * lit(DyadicQ) + lit(0.5)))
          .cast("double") / lit(DyadicQ) / sum(col("occ"))).as("nllr"))
      .select(col("doc_id"), col("n_bigrams"),
        (floor(col("nllr") * 10000.0 + 0.5) / 10000.0).as("nll"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[knPerplexity]]: identical group-by count
    * ladder, identical interpolation expression, occ-weighted
    * dyadic-grid NLL.
    *
    * ORACLE-CONTRACT CAVEAT (r17 ADVICE): the engine recodes words to
    * xxhash64 longs while this restatement keeps string keys — the
    * hash match therefore additionally asserts the recoding was
    * injective ON THIS CORPUS. A 64-bit collision (negligible at any
    * natural vocabulary, but adversarially constructible) would merge
    * two bigram types' counts engine-side and surface here as a hash
    * MISMATCH, not a silent pass — the compare direction is safe; the
    * caveat is only that the engine's hashed nll on adversarial input
    * may differ from the string-keyed definition. */
  def knPerplexityOracle(discount: Double = 0.75): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         FROM documents),
       b AS (SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2
         FROM w, UNNEST(range(len(ws) - 1)) AS t(i)),
       db AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS occ
         FROM b GROUP BY doc_id, w1, w2),
       pc AS (SELECT w1, w2, CAST(sum(occ) AS BIGINT) AS cb
         FROM db GROUP BY w1, w2),
       uc AS (SELECT w1, CAST(sum(cb) AS BIGINT) AS cu,
           CAST(count(*) AS BIGINT) AS n1f FROM pc GROUP BY w1),
       fc AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1b
         FROM pc GROUP BY w2),
       ty AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM pc),
       pp AS (SELECT w1, w2,
           greatest(cb - CAST($discount AS DOUBLE), CAST(0.0 AS DOUBLE))
             / cu
             + CAST($discount AS DOUBLE) * n1f / cu * (n1b / t) AS p
         FROM pc JOIN uc USING (w1) JOIN fc USING (w2), ty)
       SELECT doc_id, CAST(sum(occ) AS BIGINT) AS n_bigrams,
         floor(CAST(sum(occ * CAST(floor(-ln(p) * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
           / CAST(16777216 AS DOUBLE) / sum(occ) * 10000.0 + 0.5)
           / 10000.0 AS nll
       FROM db JOIN pp USING (w1, w2) GROUP BY doc_id ORDER BY doc_id"""

  /** LLM WATERMARK detection (Kirchenbauer et al. 2023, "A Watermark
    * for Large Language Models") — the provenance filter a 2023+
    * training-data pipeline runs so model output doesn't feed the next
    * model's corpus: a watermarking sampler biases each token toward a
    * pseudorandom "green list" seeded by the previous token, so
    * watermarked text shows a green fraction far above 1/2 and natural
    * text sits at chance. The detector is the one-proportion z-test
    * per document: a bigram (prev, cur) is green iff the md5 of
    * "prev cur" starts below '8' (P = 1/2 exactly — 16 hex digits),
    * z = (2·n_green − n)/√n, flag at the standard z > 4 (false-positive
    * probability ~3e-5 per doc under H0).
    *
    * Determinism: counts are integers; z is one closed-form expression
    * per doc (IEEE sqrt is exact-rounded, division deterministic),
    * floor-rounded. Scale posture: pure map-side array arithmetic —
    * the bigram list, the hash filter and the z-test all evaluate
    * per-row inside codegen; NO shuffle anywhere (the orderBy is
    * oracle plumbing). */
  def watermarkDetect(spark: SparkSession, dir: String,
                      zCut: Double = 4.0): DataFrame =
    watermarkOf(Tables.documents(spark, dir), zCut)
      .orderBy(col("doc_id"))

  /** [[watermarkDetect]]'s kernel over any (doc_id, text) frame —
    * split out so the spec can plant a constructed watermarked doc
    * (every bigram green) next to natural text. */
  private[graft] def watermarkOf(docs: DataFrame,
                                 zCut: Double = 4.0): DataFrame = {
    val arr = split(col("text"), " ")
    // sequence(1, 0) counts DOWN, not empty — guard the one-word doc
    val bg = when(size(arr) >= 2,
      transform(sequence(lit(1), size(arr) - 1),
        i => concat(element_at(arr, i), lit(" "), element_at(arr, i + 1))))
      .otherwise(array().cast("array<string>"))
    docs
      .withColumn("_bg", bg)
      .withColumn("n_scored", size(col("_bg")).cast("bigint"))
      .withColumn("n_green", size(filter(col("_bg"),
        s => substring(md5(s.cast("binary")), 1, 1) < "8")).cast("bigint"))
      .select(col("doc_id"), col("n_scored"), col("n_green"),
        when(col("n_scored") === 0L, lit(0.0))
          .otherwise(floor(
            (lit(2L) * col("n_green") - col("n_scored"))
              / sqrt(col("n_scored").cast("double")) * 10000.0 + 0.5)
            / 10000.0).as("z"),
        when(col("n_scored") === 0L, lit(false))
          .otherwise((lit(2L) * col("n_green") - col("n_scored"))
            / sqrt(col("n_scored").cast("double")) > zCut).as("watermarked"))
  }

  /** DuckDB restatement of [[watermarkDetect]]. */
  def watermarkDetectOracle(zCut: Double = 4.0): String =
    s"""WITH b AS (SELECT doc_id,
           list_transform(range(1, len(string_split(text, ' '))),
             i -> string_split(text, ' ')[i] || ' '
               || string_split(text, ' ')[i + 1]) AS bg
         FROM documents),
       c AS (SELECT doc_id,
           CAST(len(bg) AS BIGINT) AS n_scored,
           CAST(len(list_filter(bg,
             x -> substring(md5(x), 1, 1) < '8')) AS BIGINT) AS n_green
         FROM b)
       SELECT doc_id, n_scored, n_green,
         CASE WHEN n_scored = 0 THEN CAST(0.0 AS DOUBLE)
           ELSE floor((2 * n_green - n_scored)
             / sqrt(CAST(n_scored AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
         END AS z,
         CASE WHEN n_scored = 0 THEN FALSE
           ELSE (2 * n_green - n_scored)
             / sqrt(CAST(n_scored AS DOUBLE)) > CAST($zCut AS DOUBLE)
         END AS watermarked
       FROM c ORDER BY doc_id"""

  /** DSIR-style IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling") — the
    * distribution-matching rung the quality ladder lacks: instead of
    * scoring each doc in isolation (quality/classifier rungs), weight
    * every doc by how much its hashed-n-gram distribution looks like a
    * TARGET domain relative to the raw corpus, then keep the docs the
    * likelihood ratio favors. Target here = the high-quality slice
    * (score >= minScore — in production, a curated seed corpus);
    * features are the classifier's 256 md5 hash buckets; per-bucket
    * Laplace-smoothed unigram models p_t, p_r; per-doc importance
    * log-weight = Σ_tokens ln(p_t(b)/p_r(b)); keep iff the ratio
    * favors the target (log_w > 0 — the deterministic analog of
    * DSIR's Gumbel top-k resample).
    *
    * Determinism: the per-bucket log-ratio lr(b) is computed ONCE on
    * the 256-row stats frame (ln parity per element, the PSI
    * precedent) and broadcast; the per-doc sum rides the dyadic 2^-24
    * grid (classifier discipline — order-independent on any
    * partitioning); log_w floor-rounded at the edge.
    *
    * Scale posture: TWO corpus passes and nothing else — pass one
    * computes both models' bucket counts in a single hash aggregation
    * (the target flag rides the explode map-side, so target counts are
    * a conditional sum, never a corpus self-join), pass two folds the
    * broadcast 256-row ratio table over the token stream; totals ride
    * a one-row broadcast cross. */
  def dsirWeights(spark: SparkSession, dir: String,
                  minScore: Double = 0.64): DataFrame = {
    val hex = "0123456789abcdef"
    val bkt = (expr(s"locate(substring(md5(cast(term as binary)), 1, 1), '$hex') - 1")
      * 16 +
      expr(s"locate(substring(md5(cast(term as binary)), 2, 1), '$hex') - 1"))
      .cast("bigint")
    def toksB = withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), (col("score") >= minScore).as("tgt"),
        explode(split(col("text"), " ")).as("term"))
      .withColumn("b", bkt)
      .select(col("doc_id"), col("tgt"), col("b"))
    val stats = toksB.groupBy(col("b"))
      .agg(count(lit(1)).as("c_r"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("c_t"))
    val totals = stats.agg(sum(col("c_r")).cast("double").as("n_r"),
      sum(col("c_t")).cast("double").as("n_t"))
    val lr = stats.crossJoin(broadcast(totals))
      .select(col("b"),
        (log((col("c_t") + lit(0.5)) / (col("n_t") + lit(128.0)))
          - log((col("c_r") + lit(0.5)) / (col("n_r") + lit(128.0))))
          .as("lr"))
    toksB.join(broadcast(lr), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(floor(col("lr") * lit(DyadicQ) + lit(0.5)))
          .cast("double") / lit(DyadicQ)).as("lw"))
      .select(col("doc_id"), col("n_tokens"),
        (floor(col("lw") * 10000.0 + 0.5) / 10000.0).as("log_w"),
        (col("lw") > 0.0).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[dsirWeights]]: same one-aggregation
    * two-model counts, same broadcast-ratio fold on the dyadic grid. */
  def dsirWeightsOracle(minScore: Double = 0.64): String =
    s"""WITH sc AS (SELECT doc_id, text,
           floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * CAST(0.3 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a'))) / len(string_split(text, ' ')))
               * CAST(0.3 AS DOUBLE)
             + least(len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE),
                 CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE))
             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(10000.0 AS DOUBLE)
             >= CAST($minScore AS DOUBLE) AS tgt
         FROM documents),
       tb AS (SELECT doc_id, tgt,
           CAST((strpos('0123456789abcdef',
               substring(md5(term), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(md5(term), 2, 1)) - 1
             AS BIGINT) AS b
         FROM (SELECT doc_id, tgt,
             unnest(string_split(text, ' ')) AS term FROM sc) u),
       st AS (SELECT b, CAST(count(*) AS BIGINT) AS c_r,
           CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_t
         FROM tb GROUP BY b),
       tot AS (SELECT CAST(sum(c_r) AS DOUBLE) AS n_r,
           CAST(sum(c_t) AS DOUBLE) AS n_t FROM st),
       lr AS (SELECT b,
           ln((c_t + CAST(0.5 AS DOUBLE)) / (n_t + CAST(128.0 AS DOUBLE)))
             - ln((c_r + CAST(0.5 AS DOUBLE)) / (n_r + CAST(128.0 AS DOUBLE)))
             AS lr
         FROM st, tot),
       w AS (SELECT tb.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(floor(lr.lr * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             / CAST(16777216 AS DOUBLE) AS lw
         FROM tb JOIN lr USING (b) GROUP BY tb.doc_id)
       SELECT doc_id, n_tokens,
         floor(lw * 10000.0 + 0.5) / 10000.0 AS log_w,
         lw > CAST(0.0 AS DOUBLE) AS keep
       FROM w ORDER BY doc_id"""

  /** HELD-OUT evaluation of the TRAINED classifier — the honest PR
    * curve ([[classifierEval]] and [[classifierCalibration]] are
    * in-sample twice over: they score the corpus the trainer fit, with
    * the labels it fit to): train on the dup-safe hash-split TRAIN
    * shard ([[hashSplitOf]]'s content-hash buckets — near-identical
    * docs land on the same side, the Lee-et-al. leakage guard), then
    * threshold-sweep precision / recall / F1 on the VALID shard the
    * gradients never saw. Picking the production keep-threshold off
    * THIS sweep (not the in-sample one) is how a curation gate is
    * actually tuned.
    *
    * No leakage by construction: every aggregate in the GD loop runs
    * over the train-shard feature frame only (spec-pinned: deleting
    * the valid shard from the corpus leaves the trained weights
    * bitwise identical). Valid docs score through the same
    * [[classifierZ]] kernel against the broadcast trained weights;
    * valid-only buckets drop out of the inner join, which IS
    * weight-0 semantics for unseen features (the intercept keeps
    * every doc alive). Confusion counts are integers, ratios single
    * frac4 roundings; z rides the dyadic grid — everything hashes.
    *
    * Scale posture: inherits [[classifierGd]]'s (train shard) and
    * [[classifierZ]]'s (valid shard) shapes; the sweep explodes each
    * valid doc into |thresholds| rows map-side and one hash
    * aggregation lands the confusion counts. */
  def classifierEvalHeldout(spark: SparkSession, dir: String,
                            thresholds: Seq[Double] =
                              Seq(-0.10, -0.05, 0.0, 0.05, 0.10),
                            steps: Int = 4, lr: Double = 4.0,
                            minScore: Double = 0.64): DataFrame = {
    val labeled = withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), col("text"),
        (col("score") >= minScore).cast("int").as("y"),
        splitCol(col("text")).as("split"))
    val w = classifierGd(
      classifierFeats(labeled.filter(col("split") === "train")
        .select(col("doc_id"), col("text"), col("y"))), steps, lr)
    val zv = classifierZ(
      classifierFeats(labeled.filter(col("split") === "valid")
        .select(col("doc_id"), col("text"), col("y"))), w)
    zv
      .select(col("y"), col("z"),
        explode(array(thresholds.map(lit): _*)).as("thresh"))
      .groupBy(col("thresh"))
      .agg(
        sum(when(col("y") === 1 && col("z") > col("thresh"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("y") === 0 && col("z") > col("thresh"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("y") === 1 && !(col("z") > col("thresh")), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("y") === 0 && !(col("z") > col("thresh")), 1L)
          .otherwise(0L)).as("tn"))
      .select(col("thresh"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0L, 0.0)
          .otherwise(frac4(col("tp"), col("tp") + col("fp")))
          .as("precision"),
        when(col("tp") + col("fn") === 0L, 0.0)
          .otherwise(frac4(col("tp"), col("tp") + col("fn")))
          .as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L, 0.0)
          .otherwise(frac4(lit(2L) * col("tp"),
            lit(2L) * col("tp") + col("fp") + col("fn"))).as("f1"))
      .orderBy(col("thresh"))
  }

  /** DuckDB restatement of [[classifierTrain]]: the training loop
    * unrolled as a CTE chain (the Lloyd-oracle precedent), the same
    * dyadic-grid integer sums (floor to 2^-24 multiples, sum as
    * BIGINT, divide once), the same rational sigmoid. */
  def classifierTrainOracle(steps: Int = 4, lr: Double = 4.0,
                            minScore: Double = 0.64): String = {
    val score =
      """floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * CAST(0.3 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a'))) / len(string_split(text, ' ')))
               * CAST(0.3 AS DOUBLE)
             + least(len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE),
                 CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE))
             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(10000.0 AS DOUBLE)"""
    val steps_sql = (1 to steps).map { t =>
      s"""z$t AS (SELECT f.doc_id, f.y,
           CAST(sum(CAST(floor(f.x * w.w * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             / CAST(16777216 AS DOUBLE) AS z
         FROM f JOIN w${t - 1} w USING (b) GROUP BY f.doc_id, f.y),
       e$t AS (SELECT doc_id,
           (CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
             * (CAST(1.0 AS DOUBLE) + abs(z)))) - y AS err
         FROM z$t),
       g$t AS (SELECT f.b,
           CAST(sum(CAST(floor(e.err * f.x * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             / CAST(16777216 AS DOUBLE) / (SELECT nd FROM nd) AS g
         FROM f JOIN e$t e USING (doc_id) GROUP BY f.b),
       w$t AS (SELECT w.b,
           w.w - CAST($lr AS DOUBLE) * coalesce(g.g, CAST(0.0 AS DOUBLE)) AS w
         FROM w${t - 1} w LEFT JOIN g$t g USING (b))"""
    }.mkString(",\n       ")
    s"""WITH lab AS (SELECT doc_id, text,
           CASE WHEN $score >= CAST($minScore AS DOUBLE) THEN 1 ELSE 0 END AS y
         FROM documents),
       tok AS (SELECT doc_id, y, unnest(string_split(text, ' ')) AS term
         FROM lab),
       f0 AS (SELECT doc_id, y,
           CAST((strpos('0123456789abcdef',
               substring(md5(term), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(md5(term), 2, 1)) - 1
             AS BIGINT) AS b,
           count(*) AS cnt
         FROM tok GROUP BY doc_id, y, b),
       f AS (SELECT doc_id, y, b, CAST(cnt AS DOUBLE)
           / sum(cnt) OVER (PARTITION BY doc_id) AS x FROM f0
         UNION ALL
         SELECT doc_id, y, CAST(-1 AS BIGINT) AS b,
           CAST(1.0 AS DOUBLE) AS x FROM lab),
       nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM lab),
       w0 AS (SELECT DISTINCT b, CAST(0.0 AS DOUBLE) AS w FROM f),
       $steps_sql,
       zf AS (SELECT f.doc_id, f.y,
           CAST(sum(CAST(floor(f.x * w.w * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             / CAST(16777216 AS DOUBLE) AS z
         FROM f JOIN w$steps w USING (b) GROUP BY f.doc_id, f.y)
       SELECT doc_id, y,
         floor(z * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
           / CAST(10000.0 AS DOUBLE) AS logit,
         z > CAST(0.0 AS DOUBLE) AS keep
       FROM zf ORDER BY doc_id"""
  }

  /** DuckDB restatement of [[classifierEvalHeldout]]: the
    * [[classifierTrainOracle]] chain restricted to the train hash
    * shard, valid-shard features scored against the final weights,
    * thresholds unnested into the [[classifierEvalOracle]] sweep
    * tail. */
  def classifierEvalHeldoutOracle(steps: Int = 4, lr: Double = 4.0,
                                  minScore: Double = 0.64): String = {
    val score =
      """floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * CAST(0.3 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a'))) / len(string_split(text, ' ')))
               * CAST(0.3 AS DOUBLE)
             + least(len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE),
                 CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE))
             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(10000.0 AS DOUBLE)"""
    val steps_sql = (1 to steps).map { t =>
      s"""z$t AS (SELECT f.doc_id, f.y,
           CAST(sum(CAST(floor(f.x * w.w * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             / CAST(16777216 AS DOUBLE) AS z
         FROM f JOIN w${t - 1} w USING (b) GROUP BY f.doc_id, f.y),
       e$t AS (SELECT doc_id,
           (CAST(0.5 AS DOUBLE) + z / (CAST(2.0 AS DOUBLE)
             * (CAST(1.0 AS DOUBLE) + abs(z)))) - y AS err
         FROM z$t),
       g$t AS (SELECT f.b,
           CAST(sum(CAST(floor(e.err * f.x * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             / CAST(16777216 AS DOUBLE) / (SELECT nd FROM nd) AS g
         FROM f JOIN e$t e USING (doc_id) GROUP BY f.b),
       w$t AS (SELECT w.b,
           w.w - CAST($lr AS DOUBLE) * coalesce(g.g, CAST(0.0 AS DOUBLE)) AS w
         FROM w${t - 1} w LEFT JOIN g$t g USING (b))"""
    }.mkString(",\n       ")
    s"""WITH lab AS (SELECT doc_id, text,
           CASE WHEN $score >= CAST($minScore AS DOUBLE) THEN 1 ELSE 0 END AS y,
           substring(md5(text), 1, 2) AS bucket
         FROM documents),
       labt AS (SELECT doc_id, text, y FROM lab WHERE bucket < 'd0'),
       labv AS (SELECT doc_id, text, y FROM lab
         WHERE bucket >= 'd0' AND bucket < 'e8'),
       tok AS (SELECT doc_id, y, unnest(string_split(text, ' ')) AS term
         FROM labt),
       f0 AS (SELECT doc_id, y,
           CAST((strpos('0123456789abcdef',
               substring(md5(term), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(md5(term), 2, 1)) - 1
             AS BIGINT) AS b,
           count(*) AS cnt
         FROM tok GROUP BY doc_id, y, b),
       f AS (SELECT doc_id, y, b, CAST(cnt AS DOUBLE)
           / sum(cnt) OVER (PARTITION BY doc_id) AS x FROM f0
         UNION ALL
         SELECT doc_id, y, CAST(-1 AS BIGINT) AS b,
           CAST(1.0 AS DOUBLE) AS x FROM labt),
       nd AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM labt),
       w0 AS (SELECT DISTINCT b, CAST(0.0 AS DOUBLE) AS w FROM f),
       $steps_sql,
       tokv AS (SELECT doc_id, y, unnest(string_split(text, ' ')) AS term
         FROM labv),
       fv0 AS (SELECT doc_id, y,
           CAST((strpos('0123456789abcdef',
               substring(md5(term), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(md5(term), 2, 1)) - 1
             AS BIGINT) AS b,
           count(*) AS cnt
         FROM tokv GROUP BY doc_id, y, b),
       fv AS (SELECT doc_id, y, b, CAST(cnt AS DOUBLE)
           / sum(cnt) OVER (PARTITION BY doc_id) AS x FROM fv0
         UNION ALL
         SELECT doc_id, y, CAST(-1 AS BIGINT) AS b,
           CAST(1.0 AS DOUBLE) AS x FROM labv),
       zv AS (SELECT f.doc_id, f.y,
           CAST(sum(CAST(floor(f.x * w.w * CAST(16777216 AS DOUBLE)
               + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS DOUBLE)
             / CAST(16777216 AS DOUBLE) AS z
         FROM fv f JOIN w$steps w USING (b) GROUP BY f.doc_id, f.y),
       sweep AS (SELECT y, z,
           unnest([CAST(-0.10 AS DOUBLE), CAST(-0.05 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0.05 AS DOUBLE),
             CAST(0.10 AS DOUBLE)]) AS thresh
         FROM zv),
       cm AS (SELECT thresh,
           CAST(sum(CASE WHEN y = 1 AND z > thresh THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
           CAST(sum(CASE WHEN y = 0 AND z > thresh THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
           CAST(sum(CASE WHEN y = 1 AND NOT z > thresh THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
           CAST(sum(CASE WHEN y = 0 AND NOT z > thresh THEN 1 ELSE 0 END)
             AS BIGINT) AS tn
         FROM sweep GROUP BY thresh)
       SELECT thresh, tp, fp, fn, tn,
         CASE WHEN tp + fp = 0 THEN CAST(0.0 AS DOUBLE)
           ELSE floor(CAST(tp AS DOUBLE) / (tp + fp) * 10000.0 + 0.5)
             / 10000.0 END AS precision,
         CASE WHEN tp + fn = 0 THEN CAST(0.0 AS DOUBLE)
           ELSE floor(CAST(tp AS DOUBLE) / (tp + fn) * 10000.0 + 0.5)
             / 10000.0 END AS recall,
         CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0.0 AS DOUBLE)
           ELSE floor(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
             * 10000.0 + 0.5) / 10000.0 END AS f1
       FROM cm ORDER BY thresh"""
  }

  /** Threshold-sweep evaluation of the quality classifier — the rung
    * that closes the scorer's loop ([[classifierScore]] applies a model,
    * [[classifierTrain]] fits one; neither says whether the decision
    * boundary is any GOOD): confusion counts and precision / recall / F1
    * at each candidate logit cutoff, against the weak quality labels
    * (score >= minScore, the same supervision [[classifierTrain]] fits
    * to). Picking the keep-threshold off this sweep IS how a production
    * curation filter is tuned — the PR trade-off at each cutoff decides
    * how much corpus you pay for how much purity.
    *
    * Everything that hashes is integer-exact: tp/fp/fn/tn are counts,
    * the ratios are single frac4 roundings of integer fractions (F1 in
    * its 2tp/(2tp+fp+fn) one-division form so nothing compounds).
    *
    * Scale posture: logits and labels are two map-side passes over the
    * corpus meeting in one doc-keyed shuffle-hash join (never a sort
    * merge — doc-keyed, both sides corpus-sized); the sweep explodes
    * each doc into |thresholds| rows map-side and one hash aggregation
    * with map-side partial combine lands the confusion counts, so the
    * shuffle carries |thresholds| rows per partition, not per doc. */
  def classifierEval(spark: SparkSession, dir: String,
                     thresholds: Seq[Double] =
                       Seq(-0.10, -0.05, 0.0, 0.05, 0.10),
                     minScore: Double = 0.64): DataFrame = {
    val scored = classifierScore(spark, dir)
      .select(col("doc_id"), col("logit"))
    val truth = withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), (col("score") >= minScore).as("y"))
    scored.join(truth.hint("shuffle_hash"), Seq("doc_id"))
      .select(col("y"), col("logit"),
        explode(array(thresholds.map(lit): _*)).as("thresh"))
      .groupBy(col("thresh"))
      .agg(
        sum(when(col("y") && col("logit") > col("thresh"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(!col("y") && col("logit") > col("thresh"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("y") && !(col("logit") > col("thresh")), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(!col("y") && !(col("logit") > col("thresh")), 1L)
          .otherwise(0L)).as("tn"))
      .select(col("thresh"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") === 0L, 0.0)
          .otherwise(frac4(col("tp"), col("tp") + col("fp")))
          .as("precision"),
        when(col("tp") + col("fn") === 0L, 0.0)
          .otherwise(frac4(col("tp"), col("tp") + col("fn")))
          .as("recall"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L, 0.0)
          .otherwise(frac4(lit(2L) * col("tp"),
            lit(2L) * col("tp") + col("fp") + col("fn"))).as("f1"))
      .orderBy(col("thresh"))
  }

  /** CALIBRATION of the quality classifier — the reliability diagram +
    * expected calibration error that tells you whether the scorer's
    * PROBABILITIES mean anything (a filter tuned by threshold only
    * needs ranking; a downweighting or temperature-mix pipeline
    * consumes the probability itself, and an uncalibrated one silently
    * skews the mixture): predictions bucket by predicted probability
    * (the same rational sigmoid the trainer uses — no libm exp), and
    * each bin compares mean predicted probability against the observed
    * positive rate; ECE is the support-weighted mean gap.
    *
    * Everything that hashes is integer counts, one float-cast mean per
    * bin, and frac4 single roundings; the gap and ECE are computed
    * from the already-rounded per-bin columns so nothing compounds.
    * Scale: the doc-keyed score/label join (classifierEval's shape),
    * one hash agg to bins, then bins-sized arithmetic. */
  def classifierCalibration(spark: SparkSession, dir: String,
                            nBins: Int = 20, minScore: Double = 0.64,
                            eceCut: Double = 0.1): DataFrame = {
    val scored = classifierScore(spark, dir)
      .select(col("doc_id"), col("logit"))
    val truth = withQuality(Tables.documents(spark, dir))
      .select(col("doc_id"), (col("score") >= minScore).as("y"))
    val p = lit(0.5) +
      col("logit") / (lit(2.0) * (lit(1.0) + abs(col("logit"))))
    val bins = scored.join(truth.hint("shuffle_hash"), Seq("doc_id"))
      .withColumn("p", p)
      .withColumn("bin", floor(col("p") * nBins).cast("bigint"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        avg(col("p")).cast("float").cast("double").as("mp"))
    bins
      .withColumn("mean_pred", floor(col("mp") * 10000.0 + 0.5) / 10000.0)
      .withColumn("pos_rate", frac4(col("n_pos"), col("n")))
      .withColumn("gap", abs(col("mean_pred") - col("pos_rate")))
      // gap is a difference of two 1e-4-grid values, so gap*n*1e4 is an
      // integer up to FP error — snap each term to that integer and sum
      // as longs (order-independent; a raw double window sum rounded
      // after is hostage to summation order at a grid boundary). The
      // algebra folds the two 1e4 factors: ece = floor(sum_q/sum_n
      // + 0.5)/1e4 == floor((sum(gap*n)/sum(n))*1e4 + 0.5)/1e4.
      .withColumn("gapq", floor(col("gap") * col("n") * 10000.0 + 0.5))
      .withColumn("ece", floor(
        sum(col("gapq")).over(Window.partitionBy(lit(1))).cast("double")
          / sum(col("n")).over(Window.partitionBy(lit(1))).cast("double")
          + 0.5) / 10000.0)
      .select(col("bin"), col("n"), col("n_pos"), col("mean_pred"),
        col("pos_rate"), (floor(col("gap") * 10000.0 + 0.5) / 10000.0)
          .as("gap"),
        col("ece"), (col("ece") < eceCut).as("calibrated"))
      .orderBy(col("bin"))
  }

  /** DuckDB restatement of [[classifierCalibration]]. */
  def classifierCalibrationOracle(nBins: Int = 20,
                                  minScore: Double = 0.64,
                                  eceCut: Double = 0.1): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       h AS (SELECT doc_id,
           CAST((strpos('0123456789abcdef',
               substring(md5(term), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(md5(term), 2, 1)) - 1
             AS BIGINT) AS b
         FROM tok),
       sc AS (SELECT doc_id,
           round(avg(CAST((b * 2654435761) % 65536 AS DOUBLE)
               / CAST(65536 AS DOUBLE) - CAST(0.5 AS DOUBLE))
             * CAST(4.0 AS DOUBLE) - CAST(0.125 AS DOUBLE), 4) AS logit
         FROM h GROUP BY doc_id),
       lab AS (SELECT doc_id,
           floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * CAST(0.3 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a'))) / len(string_split(text, ' ')))
               * CAST(0.3 AS DOUBLE)
             + least(len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE),
                 CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE))
             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(10000.0 AS DOUBLE)
             >= CAST($minScore AS DOUBLE) AS y
         FROM documents),
       pr AS (SELECT sc.doc_id, y,
           CAST(0.5 AS DOUBLE) + logit / (CAST(2.0 AS DOUBLE)
             * (CAST(1.0 AS DOUBLE) + abs(logit))) AS p
         FROM sc JOIN lab USING (doc_id)),
       bins AS (SELECT CAST(floor(p * $nBins) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(CAST(avg(p) AS FLOAT) AS DOUBLE) AS mp
         FROM pr GROUP BY 1),
       r AS (SELECT bin, n, n_pos,
           floor(mp * 10000.0 + 0.5) / 10000.0 AS mean_pred,
           floor(CAST(n_pos AS DOUBLE) / n * 10000.0 + 0.5) / 10000.0
             AS pos_rate
         FROM bins),
       g AS (SELECT *, abs(mean_pred - pos_rate) AS gap,
           CAST(floor(abs(mean_pred - pos_rate) * n
             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
             AS gapq
         FROM r)
       SELECT bin, n, n_pos, mean_pred, pos_rate,
         floor(gap * 10000.0 + 0.5) / 10000.0 AS gap,
         floor(CAST(sum(gapq) OVER () AS DOUBLE)
           / CAST(sum(n) OVER () AS DOUBLE) + CAST(0.5 AS DOUBLE))
           / 10000.0 AS ece,
         floor(CAST(sum(gapq) OVER () AS DOUBLE)
           / CAST(sum(n) OVER () AS DOUBLE) + CAST(0.5 AS DOUBLE))
           / 10000.0 < CAST($eceCut AS DOUBLE) AS calibrated
       FROM g ORDER BY bin"""

  /** DuckDB restatement of [[classifierEval]]: the score-kernel and
    * quality-label CTEs spliced together, thresholds unnested. */
  def classifierEvalOracle(minScore: Double = 0.64): String =
    s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       h AS (SELECT doc_id,
           CAST((strpos('0123456789abcdef',
               substring(md5(term), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(md5(term), 2, 1)) - 1
             AS BIGINT) AS b
         FROM tok),
       sc AS (SELECT doc_id,
           round(avg(CAST((b * 2654435761) % 65536 AS DOUBLE)
               / CAST(65536 AS DOUBLE) - CAST(0.5 AS DOUBLE))
             * CAST(4.0 AS DOUBLE) - CAST(0.125 AS DOUBLE), 4) AS logit
         FROM h GROUP BY doc_id),
       lab AS (SELECT doc_id,
           floor((len(list_distinct(string_split(text, ' ')))
               / len(string_split(text, ' ')) * CAST(0.3 AS DOUBLE)
             + (CAST(1.0 AS DOUBLE) - len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'a'))) / len(string_split(text, ' ')))
               * CAST(0.3 AS DOUBLE)
             + least(len(string_split(text, ' ')) / CAST(100.0 AS DOUBLE),
                 CAST(1.0 AS DOUBLE)) * CAST(0.4 AS DOUBLE))
             * CAST(10000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))
             / CAST(10000.0 AS DOUBLE)
             >= CAST($minScore AS DOUBLE) AS y
         FROM documents),
       sweep AS (SELECT y, logit,
           unnest([CAST(-0.10 AS DOUBLE), CAST(-0.05 AS DOUBLE),
             CAST(0.0 AS DOUBLE), CAST(0.05 AS DOUBLE),
             CAST(0.10 AS DOUBLE)]) AS thresh
         FROM sc JOIN lab USING (doc_id)),
       cm AS (SELECT thresh,
           CAST(sum(CASE WHEN y AND logit > thresh THEN 1 ELSE 0 END)
             AS BIGINT) AS tp,
           CAST(sum(CASE WHEN NOT y AND logit > thresh THEN 1 ELSE 0 END)
             AS BIGINT) AS fp,
           CAST(sum(CASE WHEN y AND NOT (logit > thresh) THEN 1 ELSE 0 END)
             AS BIGINT) AS fn,
           CAST(sum(CASE WHEN NOT y AND NOT (logit > thresh) THEN 1
             ELSE 0 END) AS BIGINT) AS tn
         FROM sweep GROUP BY thresh)
       SELECT thresh, tp, fp, fn, tn,
         CASE WHEN tp + fp = 0 THEN CAST(0.0 AS DOUBLE)
           ELSE floor(CAST(tp AS DOUBLE) / (tp + fp)
             * 10000.0 + 0.5) / 10000.0 END AS precision,
         CASE WHEN tp + fn = 0 THEN CAST(0.0 AS DOUBLE)
           ELSE floor(CAST(tp AS DOUBLE) / (tp + fn)
             * 10000.0 + 0.5) / 10000.0 END AS recall,
         CASE WHEN 2 * tp + fp + fn = 0 THEN CAST(0.0 AS DOUBLE)
           ELSE floor(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn)
             * 10000.0 + 0.5) / 10000.0 END AS f1
       FROM cm ORDER BY thresh"""

  /** DuckDB restatement of [[classifierScore]]. */
  def classifierScoreOracle(): String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         FROM documents),
       h AS (SELECT doc_id,
           CAST((strpos('0123456789abcdef',
               substring(md5(term), 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substring(md5(term), 2, 1)) - 1
             AS BIGINT) AS b
         FROM tok),
       w AS (SELECT doc_id,
           CAST((b * 2654435761) % 65536 AS DOUBLE) / CAST(65536 AS DOUBLE)
             - CAST(0.5 AS DOUBLE) AS w
         FROM h)
       SELECT doc_id, count(*) AS n_tokens,
         round(avg(w) * CAST(4.0 AS DOUBLE) - CAST(0.125 AS DOUBLE), 4)
           AS logit,
         round(avg(w) * CAST(4.0 AS DOUBLE) - CAST(0.125 AS DOUBLE), 4)
           > CAST(0.0 AS DOUBLE) AS keep
       FROM w GROUP BY doc_id ORDER BY doc_id"""

  /** Overlapping sliding-window CHUNKING — the retrieval/context-window
    * splitter (RAG indexing, long-doc training): windows of `width`
    * words advancing by `stride` (overlap = width - stride keeps
    * boundary context in both neighbors), short final window kept, a
    * sub-`width` document yielding exactly its own single chunk.
    *
    * Scale posture: pure narrow map + explode — a document's chunks
    * materialize in its own partition and never shuffle; chunk count
    * per doc is ceil-bounded by its length, so output size is a fixed
    * multiple (width/stride) of the corpus. */
  def chunk(spark: SparkSession, dir: String, width: Int = 64,
            stride: Int = 48): DataFrame = {
    require(stride >= 1 && width >= stride)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val nExtra = when(size(col("ws")) <= width, lit(0)).otherwise(
      ceil((size(col("ws")) - lit(width)).cast("double") / stride)
        .cast("int"))
    docs
      .select(col("doc_id"), col("ws"),
        posexplode(transform(sequence(lit(0), nExtra),
          i => array_join(slice(col("ws"), i * stride + 1, lit(width)), " ")))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col("doc_id"), col("chunk_id").cast("bigint").as("chunk_id"),
        (col("chunk_id") * stride + 1).cast("bigint").as("start_word"),
        least(lit(width),
          size(col("ws")) - col("chunk_id") * stride).cast("bigint")
          .as("n_words"),
        col("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }

  /** Gopher-style RULE BATTERY (Rae et al. 2021 §A1.1, adapted to this
    * corpus's 31-word no-punctuation vocabulary): the explicit
    * pass/fail heuristics a pre-training pipeline applies BEFORE any
    * learned filter — word-count window, mean word length window,
    * type-token ratio floor, single-word repetition cap, and stopword
    * presence. The symbol/ellipsis/bullet rules of the paper are
    * vacuous on a punctuation-free corpus and deliberately omitted
    * rather than shipped as always-true columns.
    *
    * Every feature is computed map-side with higher-order array
    * functions over the doc's own token list (max fan-in 99 tokens x
    * 31 distinct), so the whole battery fuses into the scan's
    * WholeStageCodegen pass — zero shuffles before the oracle ORDER
    * BY; at 100 TB this is a pure narrow map. Ratios are frac4
    * floor-pinned; rule comparisons run on the pinned values so both
    * engines cut identically. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val ws = toks
    val frac4 = (c: Column) => floor(c * 10000.0 + 0.5) / 10000.0
    val stops = array(Seq("the", "a", "value", "row", "key").map(lit): _*)
    Tables.documents(spark, dir)
      .withColumn("n_words", size(ws))
      .withColumn("mean_wlen", frac4(
        aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double")
          / col("n_words")))
      .withColumn("ttr", frac4(
        size(array_distinct(ws)).cast("double") / col("n_words")))
      .withColumn("top_word_frac", frac4(
        topCount(ws).cast("double") / col("n_words")))
      .withColumn("n_stop_hits", size(array_intersect(ws, stops)))
      .withColumn("words_ok",
        col("n_words") >= 20 && col("n_words") <= 80)
      .withColumn("wlen_ok",
        col("mean_wlen") >= 3.0 && col("mean_wlen") <= 4.6)
      .withColumn("ttr_ok", col("ttr") >= 0.4)
      .withColumn("rep_ok", col("top_word_frac") <= 0.15)
      .withColumn("stop_ok", col("n_stop_hits") >= 2)
      .withColumn("pass", col("words_ok") && col("wlen_ok") &&
        col("ttr_ok") && col("rep_ok") && col("stop_ok"))
      .select(col("doc_id"), col("n_words"), col("mean_wlen"), col("ttr"),
        col("top_word_frac"), col("n_stop_hits"), col("words_ok"),
        col("wlen_ok"), col("ttr_ok"), col("rep_ok"), col("stop_ok"),
        col("pass"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB restatement of [[gopherRules]]. */
  def gopherRulesOracle(): String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         FROM documents),
       f AS (SELECT doc_id,
           CAST(len(ws) AS INTEGER) AS n_words,
           floor(CAST(list_sum(list_transform(ws, x -> len(x)))
               AS DOUBLE) / len(ws) * 10000.0 + 0.5) / 10000.0
             AS mean_wlen,
           floor(CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws)
               * 10000.0 + 0.5) / 10000.0 AS ttr,
           floor(CAST(list_max(list_transform(list_distinct(ws),
                 w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE)
               / len(ws) * 10000.0 + 0.5) / 10000.0 AS top_word_frac,
           CAST(len(list_intersect(ws,
               ['the', 'a', 'value', 'row', 'key'])) AS INTEGER)
             AS n_stop_hits
         FROM w)
       SELECT doc_id, n_words, mean_wlen, ttr, top_word_frac, n_stop_hits,
         n_words >= 20 AND n_words <= 80 AS words_ok,
         mean_wlen >= CAST(3.0 AS DOUBLE)
           AND mean_wlen <= CAST(4.6 AS DOUBLE) AS wlen_ok,
         ttr >= CAST(0.4 AS DOUBLE) AS ttr_ok,
         top_word_frac <= CAST(0.15 AS DOUBLE) AS rep_ok,
         n_stop_hits >= 2 AS stop_ok,
         (n_words >= 20 AND n_words <= 80)
           AND (mean_wlen >= CAST(3.0 AS DOUBLE)
             AND mean_wlen <= CAST(4.6 AS DOUBLE))
           AND ttr >= CAST(0.4 AS DOUBLE)
           AND top_word_frac <= CAST(0.15 AS DOUBLE)
           AND n_stop_hits >= 2 AS pass
       FROM f ORDER BY doc_id"""

  /** DuckDB restatement of [[chunk]]. */
  def chunkOracle(width: Int = 64, stride: Int = 48): String =
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         FROM documents),
       n AS (SELECT doc_id, ws, CASE WHEN len(ws) <= $width THEN 0
           ELSE CAST(ceil((len(ws) - $width)
             / CAST($stride AS DOUBLE)) AS BIGINT) END AS n_extra
         FROM w)
       SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
         CAST(i * $stride + 1 AS BIGINT) AS start_word,
         CAST(least($width, len(ws) - i * $stride) AS BIGINT) AS n_words,
         array_to_string(ws[(i * $stride + 1):(i * $stride + $width)], ' ')
           AS chunk_text
       FROM n, UNNEST(range(n_extra + 1)) AS t(i)
       ORDER BY doc_id, chunk_id"""
}
