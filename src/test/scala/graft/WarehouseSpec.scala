package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TextAnalysis, Warehouse}

/** Warehouse operators: runtime bloom filter sizing + the PII scrub's
  * adversarial-case behavior. */
class WarehouseSpec extends AnyFunSuite {
  import TestSession._

  /** False-positive fraction of a bloom built over [0, n) probed with
    * [n, 2n) — every hit is a false positive by construction. */
  private def fpRate(nBuild: Long, expectedItems: Long): Double = {
    val bloom = spark.range(0L, nBuild)
      .agg(SparkBridge.bloomFilterAgg(xxhash64(col("id")), expectedItems)
        .as("bf"))
    val hits = spark.range(nBuild, 2 * nBuild)
      .filter(SparkBridge.mightContain(SparkBridge.scalarSubquery(bloom),
        xxhash64(col("id"))))
      .count()
    hits.toDouble / nBuild
  }

  test("bloom sized from the build side keeps FPP bounded; a stale " +
    "hardcoded estimate does not") {
    val n = 50000L
    // derived sizing (what bloomSemiJoin now does by default): FPP stays
    // near Spark's 3% default
    assert(fpRate(n, n) <= 0.05, "derived expectedItems: FPP should be ~3%")
    // the failure mode the hardcoded 10000 had: build side 5x the
    // estimate degrades the filter badly — the regression this spec pins
    assert(fpRate(n, n / 50) >= 0.20,
      "an outgrown estimate should visibly degrade FPP (else this spec " +
        "is not testing anything)")
  }

  test("default bloom sizing derives from plan statistics, not a count job") {
    def jobsDuring(f: => Unit): Int = JobLedger.during(spark)(f)._2.length
    val li = Tables.lineitem(spark, sf).select(col("l_suppkey"))
    val sup = Tables.supplier(spark, sf)
      .filter(col("s_nationkey") === 7).select(col("s_suppkey"))
    // warm both paths once (footer reads, codegen) so job counts compare
    Warehouse.bloomSemiJoin(li, "l_suppkey", sup, "s_suppkey").count()
    Warehouse.bloomSemiJoin(li, "l_suppkey", sup, "s_suppkey",
      expectedItems = Some(64)).count()
    val derived = jobsDuring(
      Warehouse.bloomSemiJoin(li, "l_suppkey", sup, "s_suppkey").count())
    val explicit = jobsDuring(
      Warehouse.bloomSemiJoin(li, "l_suppkey", sup, "s_suppkey",
        expectedItems = Some(64)).count())
    assert(derived == explicit,
      s"derived sizing ran $derived jobs vs $explicit with an explicit " +
        "size — the statistic-based default must not add a job")
  }

  test("bloomSemiJoin is bit-identical to the plain semi join") {
    val li = Tables.lineitem(spark, sf).select(col("l_suppkey"))
    val sup = Tables.supplier(spark, sf)
      .filter(col("s_nationkey") === 7).select(col("s_suppkey"))
    val viaBloom = Warehouse.bloomSemiJoin(li, "l_suppkey", sup, "s_suppkey")
      .groupBy(col("l_suppkey")).count()
    val plain = li.join(sup, col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_suppkey")).count()
    assert(viaBloom.exceptAll(plain).isEmpty && plain.exceptAll(viaBloom).isEmpty)
  }

  test("operation log replay enforces the reference state machine") {
    import spark.implicits._
    // op 1: the canonical lifecycle plus every rejection class —
    //   log before start (not running), start (ok), duplicate start
    //   (already running), log (ok), finish (ok), log after finish
    //   (already complete), second finish (not running — the finish
    //   guard checks isStarted), restart (already complete)
    // op 2: never started — log and finish both rejected not-running
    // op 3: started, never finished — stays running
    val ev = Seq(
      (1L, 10L, "log"), (1L, 11L, "start"), (1L, 12L, "start"),
      (1L, 13L, "log"), (1L, 14L, "finish"), (1L, 15L, "log"),
      (1L, 16L, "finish"), (1L, 17L, "start"),
      (2L, 20L, "log"), (2L, 21L, "finish"),
      (3L, 30L, "start"), (3L, 31L, "log"))
      .toDF("op_id", "event_id", "action")
      .withColumn("k", lpad(col("event_id").cast("string"), 12, "0"))
    val got = Warehouse.opLogReplay(ev)
      .select(col("event_id"), col("accepted"), col("reason"),
        col("status_final"))
      .as[(Long, Boolean, Option[String], String)]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val ok = (None: Option[String])
    assert(got(10L) == ((false, Some("not running"), "complete")))
    assert(got(11L) == ((true, ok, "complete")))
    assert(got(12L) == ((false, Some("already running"), "complete")))
    assert(got(13L) == ((true, ok, "complete")))
    assert(got(14L) == ((true, ok, "complete")))
    assert(got(15L) == ((false, Some("already complete"), "complete")))
    assert(got(16L) == ((false, Some("not running"), "complete")))
    assert(got(17L) == ((false, Some("already complete"), "complete")))
    assert(got(20L) == ((false, Some("not running"), "idle")))
    assert(got(21L) == ((false, Some("not running"), "idle")))
    assert(got(30L) == ((true, ok, "running")))
    assert(got(31L) == ((true, ok, "running")))
  }

  test("pii scrub catches mixed-case and international spans") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Contact JOHN.DOE@Mail.Example.ORG today"),
      (2L, "call +44-7700-900123 or +1-555-0042"),
      (3L, "no pii here at all"),
      (4L, "Shout USER@EXAMPLE.COM and +49-3012-345678 loudly")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.withPiiScrub(docs, "text")
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("redacted"))
      .orderBy(col("doc_id")).collect()
    assert(out(0).getLong(1) == 1 &&
      out(0).getString(3) == "Contact <EMAIL> today")
    assert(out(1).getLong(2) == 2 &&
      out(1).getString(3) == "call <PHONE> or <PHONE>")
    assert(out(2).getLong(1) == 0 && out(2).getLong(2) == 0 &&
      out(2).getString(3) == "no pii here at all")
    assert(out(3).getLong(1) == 1 && out(3).getLong(2) == 1 &&
      out(3).getString(3) == "Shout <EMAIL> and <PHONE> loudly")
  }

  test("merge upsert applies all three MERGE clauses in one pass") {
    val sf = TestSession.sf
    val merged = Warehouse.q36MergeUpsert(spark, sf).collect()
    val nCust = Tables.customer(spark, sf).count()
    val maxKey = Tables.customer(spark, sf)
      .agg(max(col("c_custkey"))).head().getLong(0)
    val custKeys = Tables.orders(spark, sf)
      .select(col("o_custkey")).distinct().collect()
      .map(_.getLong(0)).toSet
    val nDel = custKeys.count(_ % 97 == 0)
    val nIns = custKeys.count(_ % 101 == 0)
    assert(merged.length == nCust - nDel + nIns)
    val byAction = merged.groupBy(_.getString(3)).view.mapValues(_.length)
    assert(byAction("inserted") == nIns)
    merged.filter(_.getString(3) == "inserted").foreach { r =>
      assert(r.getLong(0) > maxKey)
      assert(r.getString(1) == s"new_${r.getLong(0)}")
    }
    assert(!merged.exists(r => custKeys.contains(r.getLong(0)) &&
      r.getLong(0) % 97 == 0), "a matched delete survived")
    // no SMJ: the merge join is shuffle-hash as hinted
    val plan = Warehouse.q36MergeUpsert(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), "merge planned a sort-merge join")
  }

  test("data contract: live violations on range rules, integrity rules pass") {
    val sf = TestSession.sf
    val rows = Warehouse.q48DataContract(spark, sf).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(rows.size == 6)
    // recompute the two failing range rules exactly
    val li = Tables.lineitem(spark, sf)
    val nLi = li.count()
    val vQty = li.filter(col("l_quantity") < 1.0 ||
      col("l_quantity") > 45.0).count()
    val vDisc = li.filter(col("l_discount") > 0.08).count()
    assert(vQty > 0 && vDisc > 0, "corpus must fail the range rules")
    assert(rows("li_quantity_range") == ((nLi, vQty,
      math.floor(vQty.toDouble / nLi * 1e4 + 0.5) / 1e4, false)))
    assert(rows("li_discount_max")._2 == vDisc)
    // the integrity family holds on consistent TPC-H data
    Seq("li_orderkey_ref", "o_orderkey_unique", "o_totalprice_positive",
      "o_status_domain").foreach { rule =>
      assert(rows(rule)._2 == 0L && rows(rule)._4, s"$rule must pass")
    }
  }

  test("entity match: every typo resolves to its source, new entities stay new") {
    val sf = TestSession.sf
    val rows = Warehouse.q50EntityMatch(spark, sf).collect()
    val keys = Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0))
    val nTypo = keys.count(_ % 7 == 0)
    val nFresh = keys.count(_ % 13 == 0)
    assert(rows.length == nTypo + nFresh)
    val (typo, fresh) = rows.partition(_.getString(1) == "typo")
    assert(typo.length == nTypo && fresh.length == nFresh)
    // a leading-word typo preserves the blocking suffix, so every
    // perturbed record must resolve to EXACTLY its source at distance 1
    typo.foreach { r =>
      assert(r.getBoolean(4), s"typo ${r.getLong(0)} unmatched")
      assert(r.getLong(2) == r.getLong(0), s"typo ${r.getLong(0)} matched wrong")
      assert(r.getLong(3) == 1L)
    }
    // a genuinely new entity has no master record within the edit
    // budget: the -1 sentinels mark the insert stream
    fresh.foreach { r =>
      assert(!r.getBoolean(4) && r.getLong(2) == -1L && r.getLong(3) == -1L)
    }
  }

  test("view maintenance: delta merge equals full recompute, updated = delta groups") {
    val sf = TestSession.sf
    val merged = Warehouse.q49ViewMaintain(spark, sf).collect()
    // merge == full recompute on every group (the algebra's whole point)
    val full = graft.streaming.EventStreams
      .windowAggBatch(spark, sf).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(merged.length == full.size)
    merged.foreach { r =>
      val (n, s) = full((r.getTimestamp(0), r.getString(1)))
      assert(r.getLong(2) == n)
      assert(math.abs(r.getDouble(3) - s) < 0.011,
        s"sum drift ${r.getDouble(3)} vs $s")
    }
    // updated marks exactly the groups the delta batch touched
    val deltaGroups = Tables.events(spark, sf)
      .filter(col("event_id") % 10 >= 8)
      .select(date_trunc("hour", col("ts")), col("event_type"))
      .distinct().collect()
      .map(r => (r.getTimestamp(0), r.getString(1))).toSet
    merged.foreach { r =>
      assert(r.getBoolean(4) ==
        deltaGroups((r.getTimestamp(0), r.getString(1))))
    }
    assert(merged.exists(_.getBoolean(4)) && merged.exists(!_.getBoolean(4)),
      "both touched and untouched groups must exist")
  }

  test("skew report: per-key stats equal a brute recompute") {
    val out = Warehouse.q51SkewReport(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq ==
      Seq("events.user_id", "lineitem.l_orderkey", "orders.o_custkey"))
    def brute(df: org.apache.spark.sql.DataFrame, key: String)
        : (Long, Long, Long, Long, Long) = {
      val sizes = df.groupBy(col(key)).count().collect()
        .map(_.getLong(1)).sorted
      val nKeys = sizes.length.toLong
      def q(num: Long, den: Long): Long = {
        var cum = 0L
        // walk the distinct-size histogram in ascending order
        sizes.groupBy(identity).toSeq.sortBy(_._1)
          .collectFirst { case (c, g) if {
            cum += g.size; cum * den >= nKeys * num } => c }.get
      }
      (sizes.sum, nKeys, sizes.max, q(1, 2), q(99, 100))
    }
    val tables = Map(
      "events.user_id" -> ((Tables.events(spark, sf), "user_id")),
      "lineitem.l_orderkey" -> ((Tables.lineitem(spark, sf), "l_orderkey")),
      "orders.o_custkey" -> ((Tables.orders(spark, sf), "o_custkey")))
    out.foreach { r =>
      val (df, key) = tables(r.getString(0))
      val (nRows, nKeys, mx, p50, p99) = brute(df, key)
      assert(r.getLong(1) == nRows && r.getLong(2) == nKeys)
      assert(r.getLong(3) == mx, s"${r.getString(0)} max")
      assert(r.getDouble(4) ==
        math.floor(mx.toDouble / nRows * 1e6 + 0.5) / 1e6)
      assert(r.getLong(5) == p50 && r.getLong(6) == p99,
        s"${r.getString(0)} quantiles")
      assert(r.getLong(7) == mx * nKeys * 100 / nRows)
      // the report is the salting signal: p99 >= p50 and max >= p99
      assert(mx >= p99 && p99 >= p50)
    }
  }

  test("q52 snapshot diff equals the in-memory change batch; replay commits nothing") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/customer.parquet")
    val path = ModelStore.root(spark).stripPrefix("file:") +
      s"/snapdiff_v1_${ModelStore.md5(s"snapdiff|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    def run(): Seq[(Long, String, Option[Double], Option[Double])] =
      Warehouse.q52SnapshotDiff(spark, sf).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    val got = run()
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val mk = cust.map(_._1).max
    val expect = (cust.filter(_._1 % 13 == 4)
        .map { case (k, b) => (k, "delete", Some(b), None) } ++
      cust.filter(t => t._1 % 7 == 3 && t._1 % 13 != 4)
        .map { case (k, b) => (k, "update", Some(b), Some(b + 100.0)) } ++
      cust.filter(_._1 % 11 == 5)
        .map { case (k, b) => (k + mk, "insert", None, Some(b / 2.0)) })
      .sortBy(_._1).toSeq
    assert(expect.count(_._2 == "delete") > 0 &&
      expect.count(_._2 == "update") > 0 &&
      expect.count(_._2 == "insert") > 0,
      "every change kind must be live in the fixture")
    assert(got == expect)
    assert(SnapshotLog.latestVersion(path).contains(1))
    // replay: same feed, no new version
    assert(run() == expect &&
      SnapshotLog.latestVersion(path).contains(1),
      "a rerun must re-derive the same feed without committing")
  }

  test("q53 snapshot prune scans one of four range segments and matches a direct filter") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/orders.parquet")
    val path = ModelStore.root(spark).stripPrefix("file:") +
      s"/snaprange_v1_${ModelStore.md5(s"snaprange|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val r = Warehouse.q53SnapshotPrune(spark, sf).collect().head
    assert(r.getInt(6) == 1 && r.getInt(7) == 4,
      s"expected 1/4 segments scanned, got ${r.getInt(6)}/${r.getInt(7)}")
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val k4 = o.map(_._1).max / 4L + 1L
    val (lo, hi) = (k4 + k4 / 4L, k4 + k4 / 2L)
    val in = o.filter(t => t._1 >= lo && t._1 <= hi)
    assert(r.getLong(0) == lo && r.getLong(1) == hi)
    assert(r.getLong(2) == in.length &&
      r.getLong(3) == in.map(_._1).min && r.getLong(4) == in.map(_._1).max &&
      r.getLong(5) == in.map(_._2).distinct.length)
    // replay on the standing table: identical row, still four segments
    assert(Warehouse.q53SnapshotPrune(spark, sf).collect().head == r)
  }

  test("q54 schema evolution: widened reads reconcile, v0 keeps the original schema") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/part.parquet")
    val path = ModelStore.root(spark).stripPrefix("file:") +
      s"/snapevolve_v1_${ModelStore.md5(s"snapevolve|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    def run(): Seq[(Long, String, Option[Double])] =
      Warehouse.q54SnapshotEvolve(spark, sf).collect().toSeq
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val got = run()
    val part = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"), col("p_retailprice"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val mk = part.map(_._1).max
    val h = mk / 2L
    val expect = (part.map { case (k, n, rp) =>
        (k, n, if (k % 10 == 7 && k <= h) Some(rp / 2.0) else None) } ++
      part.map { case (k, n, rp) => (k + mk + 1L, s"n2_$n", Some(rp)) })
      .sortBy(_._1).toSeq
    assert(got == expect)
    // the evolved-null, evolved-value and upsert-halved classes are all
    // genuinely populated
    assert(got.exists(t => t._1 <= mk && t._3.isEmpty) &&
      got.exists(t => t._1 <= mk && t._3.nonEmpty) &&
      got.exists(t => t._1 > mk && t._3.nonEmpty))
    // heterogeneous LIVE segments at latest: the second pre-evolution
    // segment (keys in (h, mk]) must still be two-column on disk
    val segs = SnapshotLog.manifest(spark, path,
        SnapshotLog.latestVersion(path).get).collect()
      .map(r => (r.getAs[String]("seg"), r.getAs[Long]("min_key")))
    val preEvo = segs.filter(t => t._2 > h && t._2 <= mk)
    assert(preEvo.nonEmpty, "the untouched pre-evolution segment must survive")
    assert(spark.read.parquet(preEvo.head._1).columns.toSeq ==
      Seq("key", "name"),
      "the untouched segment must keep its original schema on disk")
    // v0 time travel: original two-column schema, no retail anywhere
    val v0 = SnapshotLog.read(spark, path, Some(0))
    assert(v0.columns.toSeq == Seq("key", "name"))
    assert(v0.count() == part.count(_._1 <= h))
    // replay: same reconciled table, no new version
    val vL = SnapshotLog.latestVersion(path)
    assert(run() == expect && SnapshotLog.latestVersion(path) == vL)
  }

  test("q55 clustered compaction: 8/8 churn probe becomes 1/4, rows conserved, history immutable") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/orders.parquet")
    val path = ModelStore.root(spark).stripPrefix("file:") +
      s"/snapcompact_v1_${ModelStore.md5(s"snapcompact|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val r = Warehouse.q55SnapshotCompact(spark, sf).collect().head
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey")).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val mk = o.map(_._1).max
    val (lo, hi) = (mk / 8L, mk / 8L + mk / 16L)
    val in = o.filter(t => t._1 >= lo && t._1 <= hi)
    assert(r.getLong(0) == lo && r.getLong(1) == hi)
    // pruned-path aggregate equals the direct filter; churn path
    // conserves the same rows
    assert(r.getLong(2) == in.length && r.getLong(3) == in.length &&
      r.getLong(4) == in.map(_._2).distinct.length)
    assert(r.getInt(5) == 8 && r.getInt(6) == 8,
      s"churn probe must scan all 8, got ${r.getInt(5)}/${r.getInt(6)}")
    assert(r.getInt(7) == 1 && r.getInt(8) == 4,
      s"compacted probe must scan 1/4, got ${r.getInt(7)}/${r.getInt(8)}")
    // compacted segments are key-DISJOINT and cover every churn row
    val segs = SnapshotLog.manifest(spark, path, 8).collect()
      .map(x => (x.getAs[Long]("min_key"), x.getAs[Long]("max_key"),
        x.getAs[Long]("n_rows"))).sortBy(_._1)
    assert(segs.length == 4)
    assert(segs.sliding(2).forall(p => p(0)._2 < p(1)._1),
      "slice key ranges must not overlap")
    assert(segs.map(_._3).sum == o.length)
    // pre-compaction history is untouched: v7 still unions to the
    // full table
    assert(SnapshotLog.read(spark, path, Some(7)).count() == o.length)
    // replay: same row, no new version
    assert(Warehouse.q55SnapshotCompact(spark, sf).collect().head == r &&
      SnapshotLog.latestVersion(path).contains(8))
  }

  test("q59 zorder: in-memory clustering recompute matches; date probe collapses from full scan") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/orders.parquet")
    val pathL = ModelStore.root(spark).stripPrefix("file:") +
      s"/zlin_v1_${ModelStore.md5(s"zlin|$fp")}"
    val pathZ = ModelStore.root(spark).stripPrefix("file:") +
      s"/zord_v2_${ModelStore.md5(s"zord|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pathL))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(pathZ))
    val r = Warehouse.q59SnapshotZorder(spark, sf).collect().head
    // in-memory recompute: same select as the operator for the (cust,
    // day, price) projection, ALL clustering arithmetic re-derived in
    // Scala — affine 16-bit bins, Morton interleave, equal-width
    // slices, per-slice stats, probe intersection counts
    val o = Tables.orders(spark, sf).select(
      col("o_custkey"),
      datediff(col("o_orderdate").cast("date"),
        lit(java.sql.Date.valueOf("1992-01-01"))).cast("long"),
      col("o_totalprice")).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    val (cmin, cmax) = (o.map(_._1).min, o.map(_._1).max)
    val (dmin, dmax) = (o.map(_._2).min, o.map(_._2).max)
    val (cLo, cHi) =
      (cmin + 7L * (cmax - cmin) / 16L, cmin + 9L * (cmax - cmin) / 16L)
    val (dLo, dHi) =
      (dmin + 7L * (dmax - dmin) / 16L, dmin + 9L * (dmax - dmin) / 16L)
    def spread(v: Long): Long = {
      var x = v & 0xFFFFL
      x = (x | (x << 8)) & 0x00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0FL
      x = (x | (x << 2)) & 0x33333333L
      (x | (x << 1)) & 0x55555555L
    }
    val xw = (cmax - cmin) / 65536L + 1L
    val yw = (dmax - dmin) / 65536L + 1L
    val zOf = o.map(t =>
      (t, spread((t._1 - cmin) / xw) | (spread((t._2 - dmin) / yw) << 1)))
    val (zmin, zmax) = (zOf.map(_._2).min, zOf.map(_._2).max)
    val zw = (zmax - zmin) / 16L + 1L
    val zstats = zOf.groupBy(t => (t._2 - zmin) / zw).values.map { g =>
      (g.map(_._1._1).min, g.map(_._1._1).max,
        g.map(_._1._2).min, g.map(_._1._2).max)
    }.toSeq
    val lw = (cmax - cmin) / 16L + 1L
    val lstats = o.groupBy(t => (t._1 - cmin) / lw).values.map { g =>
      (g.map(_._1).min, g.map(_._1).max)
    }.toSeq
    val box = o.filter(t =>
      t._1 >= cLo && t._1 <= cHi && t._2 >= dLo && t._2 <= dHi)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (cLo, cHi, dLo, dHi))
    assert(r.getLong(4) == box.length && r.getLong(6) == box.length)
    assert(math.abs(r.getDouble(5) - box.map(_._3).sum) < 0.02)
    val expScanCustL = lstats.count(s => s._2 >= cLo && s._1 <= cHi)
    val expScanCustZ = zstats.count(s => s._2 >= cLo && s._1 <= cHi)
    val expScanDayZ = zstats.count(s => s._4 >= dLo && s._3 <= dHi)
    val expScanBoxZ = zstats.count(s => s._2 >= cLo && s._1 <= cHi &&
      s._4 >= dLo && s._3 <= dHi)
    assert((r.getInt(7), r.getInt(8), r.getInt(9), r.getInt(10),
      r.getInt(11), r.getInt(12), r.getInt(13), r.getInt(14)) ==
      (expScanCustL, expScanCustZ, lstats.length, expScanDayZ,
        expScanCustL, expScanBoxZ, lstats.length, zstats.length))
    // the operator's reason to exist: the date probe scans EVERYTHING
    // on the 1-D layout and genuinely prunes on the z layout; the 2-D
    // box prunes at least as hard as either 1-D answer
    assert(r.getInt(9) == r.getInt(13) && r.getInt(10) < r.getInt(9),
      s"date probe: z ${r.getInt(10)} must beat linear ${r.getInt(9)}")
    assert(r.getInt(12) <= r.getInt(11) && r.getInt(12) <= r.getInt(10))
    // replay: same row, no new versions on either table
    assert(Warehouse.q59SnapshotZorder(spark, sf).collect().head == r &&
      SnapshotLog.latestVersion(pathL).contains(8) &&
      SnapshotLog.latestVersion(pathZ).contains(8))
  }

  test("q56 retention gc: pinned version survives via shared segments, unshared segment reclaimed") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/customer.parquet")
    val path = ModelStore.root(spark).stripPrefix("file:") +
      s"/snapretain_v1_${ModelStore.md5(s"snapretain|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    def run(): Seq[(Int, Long, Long, Long, Boolean)] =
      Warehouse.q56SnapshotRetention(spark, sf).collect().toSeq
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4)))
    val got = run()
    val keys = Tables.customer(spark, sf)
      .select(col("c_custkey")).collect().map(_.getLong(0))
    val n01 = keys.count(_ % 4 <= 1).toLong
    val n012 = keys.count(_ % 4 <= 2).toLong
    // only v1 (pinned) and v3 (latest) survive; reread counts prove
    // the shared segments gc must NOT touch are still readable
    assert(got == Seq((1, 2L, n01, n01, true), (3, 1L, n012, n012, false)))
    // expired manifests are gone...
    assert(SnapshotLog.manifestExists(path, 1) &&
      SnapshotLog.manifestExists(path, 3))
    assert(!SnapshotLog.manifestExists(path, 0) &&
      !SnapshotLog.manifestExists(path, 2))
    // ...and v2's unshared %4==2 segment was physically reclaimed:
    // the data dir holds exactly v1's two segments + v3's compacted one
    val dataDirs = new java.io.File(s"$path/data").listFiles()
    assert(dataDirs != null && dataDirs.length == 3,
      s"expected 3 live segment dirs, got ${dataDirs.length}")
    // pinned time travel is byte-identical in content after gc
    val v1 = SnapshotLog.read(spark, path, Some(1))
      .select(col("key")).collect().map(_.getLong(0)).sorted
    assert(v1.toSeq == keys.filter(_ % 4 <= 1).sorted.toSeq)
    // replay: same output, no new version, nothing newly expired
    assert(run() == got && SnapshotLog.latestVersion(path).contains(3))
  }

  test("q57 restore: rollback by reference, bad version auditable, diff is the inverse feed") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/customer.parquet")
    val path = ModelStore.root(spark).stripPrefix("file:") +
      s"/snaprestore_v1_${ModelStore.md5(s"snaprestore|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    def run(): Seq[(Long, Double, Option[Double])] =
      Warehouse.q57SnapshotRestore(spark, sf).collect().toSeq
        .map(r => (r.getLong(0), r.getDouble(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val got = run()
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val expect = cust.map { case (k, b) =>
      (k, b,
        if (k % 5 == 0) None
        else if (k % 3 == 1) Some(b + 100.0) else Some(b))
    }.sortBy(_._1).toSeq
    assert(got == expect)
    assert(SnapshotLog.latestVersion(path).contains(2))
    // the bad version is auditable: v1 lost exactly the %5==0 keys
    assert(SnapshotLog.read(spark, path, Some(1)).count() ==
      cust.count(_._1 % 5 != 0))
    // diff across the restore is the exact inverse feed: deleted keys
    // come back as inserts, corrupted balances as updates back to the
    // original; untouched keys never appear
    val inv = SnapshotLog.diff(spark, path, 1, 2, "key").collect()
      .map(r => (r.getLong(0), r.getAs[String]("change")))
    val nDel = cust.count(_._1 % 5 == 0)
    val nBad = cust.count(t => t._1 % 3 == 1 && t._1 % 5 != 0)
    assert(inv.count(_._2 == "insert") == nDel &&
      inv.count(_._2 == "update") == nBad &&
      inv.count(_._2 == "delete") == 0)
    // zero data rewritten: the restore manifest lists v0's segment
    // dirs verbatim
    val segsOf = (v: Int) => SnapshotLog.manifest(spark, path, v)
      .select(col("seg")).collect().map(_.getString(0)).toSet
    assert(segsOf(2) == segsOf(0))
    // replay: same table, no new version
    assert(run() == expect && SnapshotLog.latestVersion(path).contains(2))
  }

  test("q58 wap: good batch publishes, bad batch audits dirty and never commits") {
    import graft.sources.{ModelStore, SnapshotLog}
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/orders.parquet")
    val path = ModelStore.root(spark).stripPrefix("file:") +
      s"/snapwap_v1_${ModelStore.md5(s"snapwap|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    def run(): Seq[(String, Long, Long, Boolean, Long)] =
      Warehouse.q58SnapshotWap(spark, sf).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getBoolean(3), r.getLong(4)))
    val got = run()
    val keys = Tables.orders(spark, sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val g = keys.count(_ % 9 == 5).toLong
    val b = keys.count(_ % 9 == 7).toLong
    val bv = keys.count(k => k % 9 == 7 && k % 2 == 0).toLong
    val n = keys.length.toLong
    assert(bv > 0, "the planted violation class must be live")
    assert(got == Seq(("bad", b, bv, false, n + g),
      ("good", g, 0L, true, n + g)))
    // the log: exactly v0 (base) + v1 (good publish); the bad batch
    // never became a version and its stage is gone
    assert(SnapshotLog.latestVersion(path).contains(1))
    assert(!SnapshotLog.stageExists(path, "b_good") &&
      !SnapshotLog.stageExists(path, "b_bad"))
    assert(SnapshotLog.read(spark, path, Some(0)).count() == n)
    // no negative price ever visible through any committed version
    assert(SnapshotLog.read(spark, path)
      .filter(col("price") < 0).count() == 0)
    // replay: same report, same single published version
    assert(run() == got && SnapshotLog.latestVersion(path).contains(1))
  }

  test("q60 merge rebase: both writers' payloads serve, rebase lands at v3, in-memory recompute matches") {
    import graft.sources.{ModelStore, SnapshotLog}
    val sf = TestSession.sf
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/customer.parquet")
    val path = ModelStore.root(spark).stripPrefix("file:") +
      s"/mrebase_v1_${ModelStore.md5(s"mrebase|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    val got = Warehouse.q60MergeRebase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3)))
    val c = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_acctbal")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val h = c.map(_._1).max / 2L
    val expect = c.map { case (k, b) =>
      val bal =
        if (k <= h && k % 7 == 3) b + 100.0
        else if (k > h && k % 5 == 2) b * 2.0
        else b
      (k, bal, 3, 4)
    }.sortBy(_._1)
    assert(got.toSeq == expect.toSeq)
    // the rebased history really is 4 versions with v2 = A-only and
    // v3 = A + B (B's stale-base merge landed ON TOP of A's commit)
    val v2 = SnapshotLog.read(spark, path, Some(2)).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    val bKeys = c.collect { case (k, _) if k > h && k % 5 == 2 => k }
    assert(bKeys.forall(k => v2(k) == c.toMap.apply(k)),
      "v2 must predate writer B's doubling")
    // replay: no new version, same frame
    assert(Warehouse.q60MergeRebase(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2), r.getInt(3)))
      .toSeq == got.toSeq)
    assert(SnapshotLog.latestVersion(path).contains(3))
  }

  test("q61 follower MV: view reached only through feeds equals the in-memory recompute; feeds have exactly-once effect") {
    import graft.sources.{ModelStore, SnapshotLog}
    val sf = TestSession.sf
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/orders.parquet")
    def p(tag: String) = ModelStore.root(spark).stripPrefix("file:") +
      s"/${tag}_v1_${ModelStore.md5(s"$tag|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(p("fmvsrc")))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(p("fmvview")))
    val got = Warehouse.q61FollowMv(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4)))
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val mk = o.map(_._1).max
    def cents(p: Double): Long = math.floor(p * 100.0 + 0.5).toLong
    // the net state, replayed in memory
    val fin = o.flatMap { case (k, price) =>
      val c0 = cents(price)
      val alive = k % 11 != 4 && k % 23 != 9
      val v1 = c0 + (if (k % 13 == 2) 50000L else 0L)
      val v2 = if (k % 19 == 7 && k % 23 != 9) v1 * 2L else v1
      val orig = if (alive) Seq((k % 16, v2)) else Seq.empty
      val ins = if (k % 29 == 5) Seq(((k + mk + 1) % 16, c0)) else Seq.empty
      orig ++ ins
    }
    val expect = fin.groupBy(_._1).map { case (g, vs) =>
      (g, vs.length.toLong, vs.map(_._2).sum, 2, 2)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expect)
    // the view genuinely tracked the source one version per feed:
    // view v1 reflects ONLY the first churn commit
    val srcV1 = o.flatMap { case (k, price) =>
      val c0 = cents(price)
      if (k % 11 == 4) Seq.empty
      else Seq((k % 16, c0 + (if (k % 13 == 2) 50000L else 0L)))
    } ++ o.collect { case (k, price) if k % 29 == 5 =>
      ((k + mk + 1) % 16, cents(price)) }
    val expectV1 = srcV1.groupBy(_._1).map { case (g, vs) =>
      (g, vs.length.toLong, vs.map(_._2).sum) }.toSeq.sortBy(_._1)
    val gotV1 = SnapshotLog.read(spark, p("fmvview"), Some(1)).collect()
      .map(r => (r.getAs[Long]("grp"), r.getAs[Long]("cnt"),
        r.getAs[Long]("sum_cents"))).sortBy(_._1)
    assert(gotV1.toSeq == expectV1, "view v1 must equal the post-feed-1 state")
    // exactly-once EFFECT: wind the follower cursor back (a crash
    // between apply and cursor advance) — the re-delivered feed must
    // no-op because the view already sits past it
    java.nio.file.Files.write(java.nio.file.Paths.get(
      p("fmvsrc"), "_log", "cursor-mv"), "1".getBytes("UTF-8"))
    val again = Warehouse.q61FollowMv(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3),
        r.getInt(4)))
    assert(again.toSeq == got.toSeq,
      "a re-delivered feed must have no effect on the view")
    assert(SnapshotLog.latestVersion(p("fmvview")).contains(2))
  }

  test("q62 min/max follower MV: eviction decisions and both maintenance arms match the in-memory replay; replay-stable") {
    import graft.sources.{ModelStore, SnapshotLog}
    val sf = TestSession.sf
    val fp = ModelStore.corpusFingerprint(spark, s"$sf/orders.parquet")
    def p(tag: String) = ModelStore.root(spark).stripPrefix("file:") +
      s"/${tag}_v1_${ModelStore.md5(s"$tag|$fp")}"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(p("fmmsrc")))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(p("fmmview")))
    val got = Warehouse.q62FollowMvMinmax(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val mk = o.map(_._1).max
    def cents(pr: Double): Long = math.floor(pr * 100.0 + 0.5).toLong
    // state machine in memory: v0 rows, feed-1 rows, feed-2 rows
    val v0 = o.map { case (k, pr) => (k, k % 16, cents(pr)) }
    val st1 = v0.collect { case (k, g, c) if k % 11 != 4 =>
      (k, g, c + (if (k % 13 == 2) 50000L else 0L)) } ++
      v0.collect { case (k, _, c) if k % 29 == 5 =>
        (k + mk + 1, (k + mk + 1) % 16, c) }
    val st2 = st1.collect { case (k, g, c) if !(k <= mk && k % 23 == 9) =>
      (k, g, if (k <= mk && k % 19 == 7) c * 2L else c) }
    def viewOf(st: Seq[(Long, Long, Long)]) =
      st.groupBy(_._2).map { case (g, rows) =>
        g -> (rows.length.toLong, rows.map(_._3).min, rows.map(_._3).max) }
    val (view0, view1, view2) = (viewOf(v0), viewOf(st1), viewOf(st2))
    // eviction decisions in memory (removed <= min OR removed >= max)
    def evictions(pre: Map[Long, (Long, Long, Long)],
                  removed: Seq[(Long, Long)]): Int =
      removed.groupBy(_._1).count { case (g, vs) =>
        val (_, mn, mx) = pre(g)
        vs.map(_._2).min <= mn || vs.map(_._2).max >= mx
      }
    val rem1 = v0.collect { case (k, g, c) if k % 11 == 4 => (g, c) } ++
      v0.collect { case (k, g, c) if k % 13 == 2 && k % 11 != 4 => (g, c) }
    val rem2 = st1.collect {
      case (k, g, c) if k <= mk && k % 11 != 4 &&
        (k % 23 == 9 || k % 19 == 7) => (g, c) }
    val expectRescans = evictions(view0, rem1) + evictions(view1, rem2)
    val expect = view2.toSeq.map { case (g, (n, mn, mx)) =>
      (g, n, mn, mx, expectRescans, 2, 2) }.sortBy(_._1)
    assert(got.toSeq == expect)
    assert(expectRescans > 0 && expectRescans < 32,
      s"the fixture must exercise BOTH arms (got $expectRescans evictions of 32 group-feeds)")
    // the per-feed path really committed: view v1 time-travels to the
    // post-feed-1 state exactly
    val gotV1 = SnapshotLog.read(spark, p("fmmview"), Some(1)).collect()
      .map(r => (r.getAs[Long]("grp"), r.getAs[Long]("cnt"),
        r.getAs[Long]("mn"), r.getAs[Long]("mx"))).sortBy(_._1)
    assert(gotV1.toSeq == view1.toSeq.map { case (g, (n, mn, mx)) =>
      (g, n, mn, mx) }.sortBy(_._1))
    // replay: nothing re-applies, the derived eviction audit is stable
    val again = Warehouse.q62FollowMvMinmax(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(again.toSeq == got.toSeq &&
      SnapshotLog.latestVersion(p("fmmview")).contains(2))
  }

  test("q62 maintenance under MASS EVICTION: a feed evicting every group takes the semi-join rescan arm and converges, no driver collect") {
    import graft.sources.SnapshotLog
    val root = "target/tmp-warehouse-massevict"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val srcPath = s"$root/src"; val viewPath = s"$root/view"
    import spark.implicits._
    // 8 groups x 40 rows; cents = grp*1000 + i so each group's min is
    // its i=0 row and max its i=39 row
    val v0 = (0L until 8L).flatMap(g => (0L until 40L).map(i =>
      (g * 100L + i, g, g * 1000L + i))).toDF("key", "grp", "cents")
    SnapshotLog.create(spark, v0, srcPath, "key")
    // the mass-eviction feed: DELETE every group's current min AND max
    // — all 8 groups evict, the rescan arm must select every group
    val feed = (0L until 8L).flatMap(g => Seq(
      (g * 100L, g, g * 1000L, true),
      (g * 100L + 39L, g, g * 1000L + 39L, true))).toDF(
      "key", "grp", "cents", "_del")
    SnapshotLog.merge(spark, feed, srcPath, "key", "_del")
    Warehouse.minmaxMaintain(spark, srcPath, viewPath, "massev")
    val got = SnapshotLog.read(spark, viewPath).collect()
      .map(r => (r.getAs[Long]("grp"), r.getAs[Long]("cnt"),
        r.getAs[Long]("mn"), r.getAs[Long]("mx"))).sortBy(_._1)
    val expect = (0L until 8L).map(g =>
      (g, 38L, g * 1000L + 1L, g * 1000L + 38L))
    assert(got.toSeq == expect,
      "every group must have re-derived its runner-up extrema via the rescan arm")
    // and the decision frame really evicted ALL groups
    val d = Warehouse.minmaxDecide(
      SnapshotLog.diff(spark, srcPath, 0, 1, "key"),
      SnapshotLog.read(spark, viewPath, Some(0)))
    assert(d.filter(col("evict")).count() == 8L)
  }
}
