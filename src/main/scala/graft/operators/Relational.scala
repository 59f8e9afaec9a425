package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{CappedSet, Pins}

/** Relational core: the reference's DB-layer query shapes re-expressed as
  * declarative Spark plans (ram-analysis/app/index.js:200-339 — select /
  * filter / whereIn / first, inner joins, key-value→column pivots — plus
  * the result-assembly aggregations of app/index.js:99-135).
  *
  * Scale posture: every aggregate is partial-agg friendly; dimension
  * tables (region/nation/supplier) are broadcast; floats are rounded only
  * at the output edge so Catalyst can reorder freely.
  */
object Relational {

  /** TPC-H Q1 shape: the per-admin-area result rollup analog. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** select/filter/whereIn/order/limit — fetchFilesInfo (index.js:200). */
  def q2FilterTopN(spark: SparkSession, dir: String): DataFrame = {
    Tables.supplier(spark, dir)
      .filter(col("s_acctbal") > 0 && col("s_nationkey").isin(1, 5, 9, 12, 17, 21))
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      .limit(10)
  }

  /** 3-way join + agg + top-N (TPC-H Q3 shape). */
  def q3JoinRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(20)
  }

  /** EXISTS via left-semi join (scenario-file lookups, index.js:282). */
  def q4SemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val big = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Star join across 6 tables (TPC-H Q5 shape); dims broadcast. */
  def q5MultiJoinRegion(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"))
      .join(l, o("o_orderkey") === l("l_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("n_name"))
  }

  /** Scalar aggregate under tight range predicates (TPC-H Q6 shape). */
  def q6SelectiveAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Key/value→columns pivot — fetchOrigins indicator grouping
    * (index.js:233-246). Conditional aggregation keeps it partial-agg
    * friendly (no two-pass distinct-pivot at scale). */
  def q7IndicatorsPivot(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    def pv(t: String) =
      round(sum(when(col("event_type") === t, col("value")).otherwise(0.0)), 2).as(s"${t}_value")
    e.groupBy(col("user_id"))
      .agg(pv("click"), pv("view"), pv("purchase"), pv("signup"), pv("error"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Ranked window per group: top-3 origins per admin area. */
  def q8WindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("c_nationkey"), col("rk"), col("c_custkey"), col("c_acctbal"))
      .orderBy(col("c_nationkey"), col("rk"))
  }

  /** Hierarchical rollup region→nation (admin-area hierarchy rollup). */
  def q9Rollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** Cumulative window per key (running totals per origin). */
  def q10RunningWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") <= 100)
      .withColumn("rn", row_number().over(w))
      .withColumn("running_total",
        round(sum(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("running_total"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** NOT EXISTS via left-anti join: origins with no urgent open orders. */
  def q11AntiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey"))
  }

  /** CASE-based tally — operation-codes style status counts
    * (app/utils/operation-codes.js). */
  def q12ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def tally(p: String, as: String) =
      sum(when(col("o_orderpriority") === p, 1L).otherwise(0L)).as(as)
    o.groupBy(col("o_orderstatus"))
      .agg(tally("1-URGENT", "n_urgent"), tally("2-HIGH", "n_high"),
        tally("3-MEDIUM", "n_medium"), tally("4-NOT SPECIFIED", "n_notspec"),
        tally("5-LOW", "n_low"),
        round(sum(col("o_totalprice")), 2).as("total_value"))
      .orderBy(col("o_orderstatus"))
  }

  /** Multi-column DISTINCT aggregation (the Expand-based two-phase plan:
    * partial distinct per grouping-id map-side, then merge). */
  def q14DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Set algebra over key sets: customers that both hold a high balance
    * and have ordered, minus those with any urgent order (INTERSECT /
    * EXCEPT plan shapes; both are distinct-set semantics). */
  def q15SetOps(spark: SparkSession, dir: String): DataFrame = {
    val rich = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 5000).select(col("c_custkey"))
    val ordering = Tables.orders(spark, dir)
      .select(col("o_custkey").as("c_custkey"))
    val urgent = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("c_custkey"))
    rich.intersect(ordering).except(urgent).orderBy(col("c_custkey"))
  }

  /** Correlated-scalar-subquery shape (TPC-H Q17): lineitems below half
    * their part's average quantity. Decorrelated by hand into a per-part
    * aggregate + equi-join — the plan Catalyst's subquery decorrelation
    * would produce, but explicit so the two-scan shape is visible. The
    * per-part avg side is small (one row per part) => broadcast. */
  def q16CorrelatedAvg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir).filter(col("p_brand") === "Brand#3")
      .select(col("p_partkey"))
    // Prune lineitem to the brand's parts BEFORE the per-part average:
    // the correlated avg is only ever consulted for those parts, so the
    // aggregation input shrinks by |brand|/|parts| (25x here). avg is
    // exact across partitionings: quantities are integer-valued doubles,
    // so the sums have no fp rounding to reorder.
    val brandItems = li.join(broadcast(p), li("l_partkey") === p("p_partkey"),
      "left_semi")
    val brandAvgs = brandItems.groupBy(col("l_partkey").as("_ap"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
    brandItems.join(broadcast(brandAvgs), col("l_partkey") === col("_ap"))
      .filter(col("l_quantity") < col("avg_qty") * 0.5)
      .agg(round(sum(col("l_extendedprice")) / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("n_items"))
  }

  /** GROUPING SETS over a shape rollup can't express: per (region,
    * status), per status alone, and the grand total — one Expand pass,
    * partial-agg friendly (Spark 4 Dataset.groupingSets). */
  def q17GroupingSets(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupingSets(
        Seq(Seq(col("r_name"), col("o_orderstatus")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("r_name"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_value"))
      .orderBy(col("r_name").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  /** Group-HAVING feeding a join (TPC-H Q18): big orders (total quantity
    * > threshold) with their customer. The HAVING side aggregates the
    * fact table first (partial agg), then only qualifying keys join. */
  def q18GroupHaving(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val big = li.groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 180.0)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(big, o("o_orderkey") === big("l_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), round(col("o_totalprice"), 2).as("o_total"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
  }

  /** Semi-structured extraction: pull a typed field out of the events
    * JSON `props` column and aggregate by it — the get_json_object path
    * stays codegen'd, no UDF. */
  def q19JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      // exact integer floor-division (matches the oracle's //): strip
      // the non-negative pmod remainder, then integral div — no double
      // quotient, so no 2^53 precision hazard and correct for negative k
      .withColumn("k_decile", expr("(k - pmod(k, 10)) div 10"))
      .groupBy(col("k_decile"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("k_decile"))

  /** Calendar bucketing: monthly order volume (date_trunc survives into
    * partition pruning when the table is date-partitioned). */
  def q20MonthlyVolume(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_value"))
      .orderBy(col("month"))

  /** Latest row per key — the reference's "last operation log" fetch
    * (app/utils/operation.js:245: select ... orderBy created_at desc,
    * first). Window row_number keeps it one shuffle; at scale prefer
    * this over a self-join on max(ts) (one pass, no join). */
  def q22LastPerKey(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** Time-RANGE window frame: trailing 1-hour sum per user, ordered by
    * event time — the frame kind rows-frames can't express (rows vary
    * per timestamp). Epoch seconds make the range bound engine-portable. */
  def q25MovingRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch"))
      .rangeBetween(-3600L, 0L)
    Tables.events(spark, dir)
      .filter(col("user_id") <= 20)
      .withColumn("epoch", unix_timestamp(col("ts")))
      .withColumn("trailing_1h",
        round(sum(col("value")).over(w), 2))
      .select(col("user_id"), col("event_id"), col("epoch"),
        col("trailing_1h"))
      .orderBy(col("user_id"), col("epoch"), col("event_id"))
  }

  /** FULL OUTER join of two per-customer aggregates (order spend vs
    * account balance tiers) with coalesced keys — the reconcile-two-
    * ledgers shape; either side may miss a customer. */
  def q26FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
      .filter(col("spend") > 400000.0)
    val rich = Tables.customer(spark, dir)
      .filter(col("c_acctbal") > 7000.0)
      .select(col("c_custkey").as("k2"), round(col("c_acctbal"), 2).as("bal"))
    spend.join(rich, col("k") === col("k2"), "full_outer")
      .select(coalesce(col("k"), col("k2")).as("custkey"),
        col("spend"), col("bal"))
      .orderBy(col("custkey"))
  }

  /** Columns -> key/value rows (the inverse of q7's pivot) via stack —
    * one Expand pass, no join/shuffle before the final sort. */
  def q24Unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .filter(col("p_partkey") <= 200)
      .select(col("p_partkey"),
        expr("stack(2, 'retailprice', p_retailprice," +
          " 'size', cast(p_size AS double)) AS (attr, val)"))
      .orderBy(col("p_partkey"), col("attr"))

  /** Exact grouped quantiles (percentile with linear interpolation —
    * the sort-based exact form; the sketch-based scale path is
    * [[Sketches.valueQuantiles]]). Input values have 2 decimals, so the
    * interpolated result has <= 3 and round(4) is rounding-safe for the
    * oracle (SURVEY.md §6). */
  def q23Median(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.5, 0.9))").as("_q"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        round(element_at(col("_q"), 1), 4).as("p50"),
        round(element_at(col("_q"), 2), 4).as("p90"),
        col("n_events"))
      .orderBy(col("event_type"))

  /** Variance/stddev via explicit algebraic sums (sum, sum of squares):
    * the form that stays exact AND order-independent here because
    * l_quantity is integer-valued (all sums are exact integers < 2^53),
    * unlike stddev_samp whose float accumulation is partition-order
    * dependent and can't be oracle-hashed. Partial-agg friendly by
    * construction. */
  def q21Stats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).as("s1"),
        sum(col("l_quantity") * col("l_quantity")).as("s2"))
      .select(col("l_returnflag"),
        col("n"),
        round(col("s1") / col("n"), 4).as("mean_qty"),
        round(sqrt((col("s2") * col("n") - col("s1") * col("s1")) /
          (col("n") * (col("n") - lit(1)))), 4).as("stddev_qty"))
      .orderBy(col("l_returnflag"))

  /** EXACT two-sample Kolmogorov–Smirnov test between two event
    * segments' value distributions (click vs view) — the
    * distribution-drift tripwire behind canary analysis and
    * feature-drift monitoring (q21's moments miss shape changes that
    * move no mean; KS is the standard nonparametric answer). D = max
    * |ECDF₁ − ECDF₂| evaluated after every distinct value, with the
    * large-sample rejection bound c(α)·sqrt((n1+n2)/(n1·n2)).
    *
    * Determinism: ECDFs are exact integer-count ratios, the max of
    * exact rationals, and sqrt is IEEE-exact — nothing can drift
    * between engines, so the statistic itself hash-checks (frac4 only
    * for display). Scale posture: per-value counts are one partial
    * agg; the cumulative walk orders DISTINCT values only (the
    * grouped frame, not the events) — and at true 100 TB cardinality
    * the sketch path is [[graft.operators.Sketches.valueQuantiles]]'
    * mergeable quantile summaries, with this exact form as its
    * verification reference. */
  def q45KsTest(spark: SparkSession, dir: String, alpha: Double = 1.3581)
      : DataFrame =
    ksTestOf(Tables.events(spark, dir), alpha)

  /** [[q45KsTest]]'s kernel over any (event_type, value) frame — split
    * out so the spec can drive planted distributions (identical ->
    * D = 0, disjoint supports -> D = 1). */
  private[graft] def ksTestOf(ev0: DataFrame,
                              alpha: Double = 1.3581): DataFrame = {
    val ev = ev0.filter(col("event_type").isin("click", "view"))
    val perValue = ev.groupBy(col("value"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("c1"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c2"))
    val totals = perValue.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
    val w = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perValue
      .withColumn("r1", sum(col("c1")).over(w))
      .withColumn("r2", sum(col("c2")).over(w))
      .crossJoin(broadcast(totals))
      .select(col("n1"), col("n2"),
        abs(col("r1").cast("double") / col("n1")
          - col("r2").cast("double") / col("n2")).as("d"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("d")).as("dmax"))
      .select(col("n1"), col("n2"),
        (floor(col("dmax") * 10000.0 + 0.5) / 10000.0).as("ks_d"),
        (col("dmax") > lit(alpha)
          * sqrt((col("n1") + col("n2")).cast("double")
            / (col("n1") * col("n2")).cast("double"))).as("reject"))
  }

  /** Population Stability Index between two event slices — the BINNED
    * drift monitor that completes the family (q45_ks_test is the exact
    * distribution test, text_drift the lexical one, emb_drift the
    * embedding one): production scorecards watch PSI per feature because
    * it localizes WHERE the distribution moved (per-bin contributions),
    * not just whether it moved. psi = sum_bins (p_a - p_b) ln(p_a/p_b)
    * with Laplace-smoothed bin masses ((c + 1/2) / (n + nbins/2)) so an
    * empty bin on one side contributes a finite, defined term instead
    * of a log-of-zero.
    *
    * Scale posture: one hash aggregation to per-bin counts (map-side
    * combined conditional sums, the KS kernel's shape), then everything
    * downstream is bins-sized (~value_range/width rows) — the totals and
    * nbins ride a one-row broadcast cross join, never a second scan.
    * psi > 0.2 is the standard "significant shift" actioning rule. */
  def q46Psi(spark: SparkSession, dir: String, binWidth: Double = 50.0,
             thresh: Double = 0.2): DataFrame =
    psiOf(Tables.events(spark, dir), binWidth, thresh)

  /** [[q46Psi]]'s kernel over any (event_type, value) frame — split out
    * so the spec can drive planted distributions (identical slices ->
    * psi = 0; mass moved across bins -> psi above the action rule). */
  private[graft] def psiOf(ev0: DataFrame, binWidth: Double = 50.0,
                           thresh: Double = 0.2): DataFrame = {
    val ev = ev0.filter(col("event_type").isin("click", "view"))
    val perBin = ev
      .withColumn("bin", floor(col("value") / binWidth).cast("bigint"))
      .groupBy(col("bin"))
      .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("c_a"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c_b"))
    val totals = perBin.agg(sum(col("c_a")).as("na"),
      sum(col("c_b")).as("nb"), count(lit(1)).cast("double").as("nbins"))
    val smoothed = perBin.crossJoin(broadcast(totals))
      .withColumn("p_a", (col("c_a") + lit(0.5))
        / (col("na") + lit(0.5) * col("nbins")))
      .withColumn("p_b", (col("c_b") + lit(0.5))
        / (col("nb") + lit(0.5) * col("nbins")))
      .withColumn("contrib", (col("p_a") - col("p_b"))
        * log(col("p_a") / col("p_b")))
    // quantize each bin's contribution to the 1e-6 grid FIRST and sum
    // the integer grid values — the total is then sum(psi_bin) exactly,
    // order-independent on any partitioning (summing raw doubles and
    // rounding after leaves the rounded total hostage to summation
    // order at a grid boundary)
    smoothed
      .withColumn("binq", floor(col("contrib") * 1e6 + 0.5))
      .withColumn("totq", sum(col("binq")).over(Window.partitionBy(lit(1))))
      .select(col("bin"), col("c_a"), col("c_b"),
        (col("binq").cast("double") / 1e6).as("psi_bin"),
        (col("totq").cast("double") / 1e6).as("psi_total"),
        (col("totq").cast("double") / 1e6 > thresh).as("drifted"))
      .orderBy(col("bin"))
  }

  /** Complex-event-processing sequence match — the MATCH_RECOGNIZE
    * pattern "A then B within T, with no C between" (signup then
    * purchase within an hour, no error in between), the shape fraud
    * rules, conversion SLAs and alerting pipelines are written in.
    * Spark has no MATCH_RECOGNIZE; the pattern compiles to two
    * CONDITIONAL SUFFIX MINIMA over one per-user window pass: for every
    * event, the earliest following purchase key and earliest following
    * error key (keys are zero-padded "us:event_id" strings, so string
    * min IS (ts, id)-lexicographic min and string comparison IS event
    * order). A signup then matches iff its next purchase lands inside
    * the window and the next error, if any, comes after that purchase —
    * no joins, no per-pattern scans: ONE window pass answers every
    * signup, per-user partitions stay bounded by user activity, and
    * adding pattern steps adds columns, not passes.
    *
    * Unmatched signups keep -1 sentinels (not nulls: a nullable int
    * column would float-promote under the driver's pandas canon). */
  def q47SequenceMatch(spark: SparkSession, dir: String,
                       withinMin: Int = 60): DataFrame = {
    val withinUs = withinMin.toLong * 60000000L
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), unix_micros(col("ts")).as("us"))
      .withColumn("k", concat(
        lpad(col("us").cast("string"), 20, "0"), lit(":"),
        lpad(col("event_id").cast("string"), 10, "0")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    ev
      .withColumn("next_p",
        min(when(col("event_type") === "purchase", col("k"))).over(w))
      .withColumn("next_e",
        min(when(col("event_type") === "error", col("k"))).over(w))
      .filter(col("event_type") === "signup")
      .withColumn("p_us", substring(col("next_p"), 1, 20).cast("bigint"))
      .withColumn("p_id", substring(col("next_p"), 22, 10).cast("bigint"))
      .withColumn("in_window", col("next_p").isNotNull &&
        col("p_us") <= col("us") + withinUs)
      .withColumn("clean",
        col("next_e").isNull || col("next_e") > col("next_p"))
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").as("signup_ts"),
        when(col("in_window"), col("p_id")).otherwise(lit(-1L))
          .as("purchase_id"),
        when(col("in_window"),
          expr("(p_us - us) div 1000000")).otherwise(lit(-1L))
          .as("gap_s"),
        (col("in_window") && col("clean")).as("matched"))
      .orderBy(col("user_id"), col("signup_id"))
  }

  /** lag() gap detection: per user, seconds since the previous event and
    * a long-gap flag — the session-boundary / liveness probe shape
    * (operation last-log staleness check, operation.js:245). One window
    * pass per user partition; integer epoch arithmetic so the oracle
    * hashes exactly. */
  def q27LeadLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch"), col("event_id"))
    Tables.events(spark, dir)
      .filter(col("user_id") <= 30)
      .withColumn("epoch", unix_timestamp(col("ts")))
      .withColumn("gap_s", col("epoch") - lag(col("epoch"), 1).over(w))
      .withColumn("long_gap",
        when(col("gap_s") > 1800L, 1L).otherwise(0L))
      .select(col("user_id"), col("event_id"), col("epoch"),
        col("gap_s"), col("long_gap"))
      .orderBy(col("user_id"), col("epoch"), col("event_id"))
  }

  /** Per-group deterministic sample: keep the first `perGroup` docs per
    * language in content-hash order — corpus balancing that is stable
    * across runs and re-shards (a rand() sample is neither). The window
    * rank is bounded by the per-language partition; for a skewed 100 TB
    * language mix the same plan runs after salting the hot language or
    * swapping in the k-bounded heap aggregate. */
  def q28StratifiedSample(spark: SparkSession, dir: String,
                          perGroup: Int = 30): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= perGroup)
      .select(col("lang"), col("rk"), col("doc_id"))
      .orderBy(col("lang"), col("rk"))
  }

  /** Ordered conversion funnel (view -> click-after-view ->
    * purchase-after-click), the canonical product-analytics query: per
    * user, the furthest stage reached with the timestamp of each step's
    * FIRST qualifying event. Stage gating is strict event-time order,
    * not mere presence — a click before the first view does not count.
    *
    * Scale shape: each stage is filter -> per-user min (partial-agg,
    * map-side combine), and the stage joins all share the user_id
    * partitioning, so one shuffle establishes co-location for the whole
    * cascade; nothing sorts, nothing windows over the raw stream. */
  def q29EventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        when(col("t_purchase").isNotNull, 3)
          .when(col("t_click").isNotNull, 2)
          .otherwise(1).as("stage"),
        col("t_view"), col("t_click"), col("t_purchase"))
      .orderBy(col("user_id"))
  }

  /** Market-basket co-occurrence among the [[PopularParts]] most
    * popular parts: part pairs purchased by the same customer, counted
    * across customers — the association-rule support table with the
    * standard practical narrowing. Without it, pair fan-out is
    * O(basket^2) over the whole catalog (measured 19.6 s at sf0.1 and
    * quadratic from there — a 100 TB non-starter); the popular-part
    * pre-filter bounds it by (basket INTERSECT popular)^2, and the
    * high-support pairs live among popular parts by definition of
    * support (a pair's support <= either part's). The popularity cut
    * itself is fully tie-broken (customer count desc, partkey) so both
    * engines pick the identical 200; pair expansion is the LSH
    * sorted-list idiom (never a basket x basket self-join); basket cap
    * [[BasketCap]] stays as the whale-customer guard. Top-N fully
    * tie-broken, so the final cut is deterministic too. */
  val BasketCap = 200
  val PopularParts = 200
  def q34MarketBasket(spark: SparkSession, dir: String,
                      topN: Int = 20): DataFrame = Pins.scope { s =>
    // pinned: cp (the distinct customer-part incidence) feeds BOTH the
    // popularity cut and the basket gather — unpinned, the
    // orders x lineitem join + distinct ran once per reference (two
    // identical ~610 ms stages in the r22 profile). The pin holds the
    // REDUCED distinct set (far smaller than the fact table), which is
    // also the right 100 TB plan: materialize the working set once
    // rather than re-shuffling raw lineitem per consumer.
    val cp = s.pin(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(spark, dir)
        .select(col("l_orderkey"), col("l_partkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
      .distinct())
    val popular = cp.groupBy(col("p"))
      .agg(count(lit(1)).as("n_cust"))
      .orderBy(col("n_cust").desc, col("p"))
      .limit(PopularParts)
      .select(col("p"))
    cp.join(broadcast(popular), Seq("p"))
      .groupBy(col("c"))
      .agg(sort_array(collect_list(col("p"))).as("parts"))
      .filter(size(col("parts")) >= 2 && size(col("parts")) <= BasketCap)
      .select(CappedSet.explode_pairs(col("parts"))((x, y) =>
        struct(x.as("part_a"), y.as("part_b"))).as("pr"))
      .groupBy(col("pr.part_a").as("part_a"), col("pr.part_b").as("part_b"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("n_customers").desc, col("part_a"), col("part_b"))
      .limit(topN)
  }

  /** Cohort retention: users grouped by first-active week, counted per
    * week-offset since that cohort week — the standard product-analytics
    * triangle. Both engines truncate weeks to Monday, and the day gap
    * between two week-truncated stamps is an exact multiple of 7, so
    * weeks_since is integer-exact.
    *
    * Scale shape: one distinct over (user, week) — the raw event volume
    * collapses immediately — then a per-user min (partial-agg) joined
    * back on the user partitioning, then a cohort-sized agg. Nothing
    * windows over raw events. */
  def q33Retention(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val cohort = a.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
    a.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_wk"),
        (datediff(col("wk"), col("cohort_wk")) / lit(7)).cast("int")
          .as("weeks_since"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .orderBy(col("cohort_wk"), col("weeks_since"))
  }

  /** Time-series gap fill: a dense (priority x day) spine over the
    * orders date range, missing days zero-filled plus a carry-forward
    * column — the densification step before any rolling-window feature
    * or chart; a raw groupBy silently drops empty days.
    *
    * Scale posture: the spine is (distinct keys) x (days) — both dims,
    * broadcast-crossed, never the fact table; the fact side collapses
    * to per-(key, day) partial aggregates BEFORE meeting the spine, so
    * the only full-width shuffle is daily-aggregate-sized. The
    * carry-forward window partitions by key and orders by day: at
    * 100 TB the per-key day count is bounded by the calendar (a few
    * thousand rows), so no partition can outgrow memory regardless of
    * fact volume. */
  def q35GapFill(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("prio"),
        col("o_orderdate").cast("date").as("d"), col("o_totalprice"))
    val daily = o.groupBy(col("prio"), col("d"))
      .agg(round(sum(col("o_totalprice")), 2).as("rev"))
    val days = broadcast(
      o.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"),
          expr("interval 1 day"))).as("d")))
    val spine = o.select(col("prio")).distinct().crossJoin(days)
    val w = Window.partitionBy(col("prio")).orderBy(col("d"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("prio", "d"), "left")
      // day reported as timestamp: the proven cross-engine comparable
      // form (date_trunc precedent in q20/q33)
      .select(col("prio"), col("d").cast("timestamp").as("day"),
        coalesce(col("rev"), lit(0.0)).as("revenue"),
        coalesce(last(col("rev"), ignoreNulls = true).over(w), lit(0.0))
          .as("revenue_ff"),
        col("rev").isNull.as("is_gap"))
      .orderBy(col("prio"), col("day"))
  }

  /** Max concurrent open sessions per event type — the interval-overlap
    * question answered by a SWEEP LINE, never an interval self-join:
    * each event opens a half-open [ts, ts+15min) session; opens (+1)
    * and closes (-1) net per instant, and the running prefix sum IS
    * the concurrency curve, whose per-type max (with the first instant
    * it was reached) is reported.
    *
    * Scale posture: the prefix sum is TWO-LEVEL, because a single
    * window over a whole event type is one straggler partition at
    * 100 TB. Deltas net per (type, instant) in a partial agg; the
    * running sum within each (type, hour-block) partition is a bounded
    * window (distinct instants per block <= clock resolution x block
    * span — pick the block span to bound it); block offsets are the
    * exclusive prefix over per-block sums, a calendar-sized frame
    * (types x hours) that broadcasts back. Max-finding is partial-agg.
    * Half-open semantics need no tie rule: a close netting against an
    * open at the same instant is exactly the [t, t+s) boundary case. */
  def q37Concurrency(spark: SparkSession, dir: String,
                     sessionMin: Int = 15): DataFrame =
    q37ConcurrencyOf(Tables.events(spark, dir)
      .select(col("event_type").as("etype"), col("ts")), sessionMin)

  /** [[q37Concurrency]]'s kernel over ANY (etype, ts) frame — split out
    * so the adversarial skew probe (HotKeyProbe: one event type holding
    * the whole corpus inside one clock hour) can drive the exact
    * two-level prefix-sum plan. The block-local window stays bounded
    * under that skew BY CONSTRUCTION: deltas net per (type, instant)
    * before any window, so a block's window size is capped by clock
    * resolution x block span (<= 3600 netted rows per hour at second
    * resolution), never by corpus size. */
  private[graft] def q37ConcurrencyOf(ev: DataFrame,
                                      sessionMin: Int): DataFrame = Pins.scope { s =>
    import org.apache.spark.sql.graftbridge.SparkBridge
    // one generator, ONE scan: the union form read events twice
    val deltas = ev.select(col("etype"), explode(array(
        struct(col("ts").as("t"), lit(1L).as("d")),
        struct((col("ts") + expr(s"INTERVAL $sessionMin MINUTES")).as("t"),
          lit(-1L).as("d")))).as("x"))
      .select(col("etype"), col("x.t").as("t"), col("x.d").as("d"))
    // the netted instant frame fans out to THREE consumers (block-local
    // runs, block offsets, and through them the curve) — checkpoint it
    // once instead of recomputing scan+generate+agg per consumer
    // (measured 8 scans / 16 exchanges without; 1 scan with)
    val net = SparkBridge.dropOriginStats(s.pin(deltas
      .groupBy(col("etype"), col("t"))
      .agg(sum(col("d")).as("dd"))
      .withColumn("blk", date_trunc("hour", col("t")))))
    val wIn = Window.partitionBy(col("etype"), col("blk")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = net.withColumn("run", sum(col("dd")).over(wIn))
    val wBlk = Window.partitionBy(col("etype")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = net.groupBy(col("etype"), col("blk"))
      .agg(sum(col("dd")).as("bs"))
      .withColumn("off", coalesce(sum(col("bs")).over(wBlk), lit(0L)))
      .select(col("etype"), col("blk"), col("off"))
    // the curve feeds both the per-type max and the first-reach filter
    val conc = SparkBridge.dropOriginStats(s.pin(
      local.join(broadcast(offsets), Seq("etype", "blk"))
        .select(col("etype"), col("t"), (col("off") + col("run")).as("conc"))))
    val mx = conc.groupBy(col("etype")).agg(max(col("conc")).as("max_conc"))
    conc.join(broadcast(mx), Seq("etype"))
      .filter(col("conc") === col("max_conc"))
      .groupBy(col("etype"))
      .agg(max(col("max_conc")).as("max_conc"), min(col("t")).as("at_ts"))
      .orderBy(col("etype"))
  }

  /** Rank-statistic windows in one pass per market segment: decile
    * bucket (ntile), percent_rank, cume_dist over account balance —
    * the quantile-bucketing step of stratified splits and score
    * calibration. The ordering key (bal, custkey) is UNIQUE, so every
    * rank statistic is tie-free-deterministic and the oracle hashes
    * exactly (percent_rank/cume_dist are exact small-denominator
    * rationals; digit 7 of their decimal expansion is never the
    * rounding half, so round(6) is engine-agreed).
    *
    * Scale posture: one window sort per segment partition — the
    * DECLARATIVE form; when a segment is a 100 TB-scale partition the
    * swap-in is the two-level rank (range-partition the key, count per
    * block, broadcast exclusive block offsets — the q37_concurrency
    * two-level prefix-sum shape) or sketch_quantiles when approximate
    * buckets suffice. */
  def q38Deciles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        ntile(10).over(w).as("decile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy(col("c_custkey"))
  }

  /** [[q38Deciles]] as the TWO-LEVEL rank — the 100 TB swap-in the
    * declarative form documents. One whole-segment window sort puts a
    * giant segment on one straggler partition; here the rank splits
    * exactly like q37's prefix sum:
    *
    *  1. value-band blocks on the ordering key (fixed-width acctbal
    *     bands — monotone in the key, so block order == key order; a
    *     production deployment picks band edges from a quantile sketch
    *     instead of a fixed width, same plan shape),
    *  2. block-LOCAL row_number over (segment, band) partitions —
    *     bounded by the band's row count, not the segment's,
    *  3. per-band counts → exclusive prefix over the band spine (a
    *     window over ~20 rows per segment) → broadcast offsets,
    *  4. global rank = offset + local rank; every rank statistic is
    *     then CLOSED-FORM in (rank, n) because the ordering key is
    *     unique: percent_rank = (rank-1)/(n-1), cume_dist = rank/n,
    *     and ntile(10)'s first n%10 buckets hold ceil(n/10) rows.
    *
    * Result-equality to the declarative form is spec-pinned (identical
    * doubles: same divisions, same Spark round). */
  def q38DecilesTwoLevel(spark: SparkSession, dir: String,
                         bandWidth: Double = 500.0): DataFrame =
    decilesTwoLevelOf(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
      bandWidth)

  /** [[q38DecilesTwoLevel]]'s kernel over ANY (c_custkey, c_mktsegment,
    * c_acctbal) frame — split out so the adversarial skew probe
    * (HotKeyProbe: one segment holding the whole corpus) can drive the
    * exact two-level rank plan. Under that skew each window is bounded
    * by its BAND's row count, never the segment's. */
  private[graft] def decilesTwoLevelOf(cust0: DataFrame,
                                       bandWidth: Double): DataFrame = {
    val cust = cust0
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        floor(col("c_acctbal") / bandWidth).as("band"))
    val wLoc = Window.partitionBy(col("c_mktsegment"), col("band"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    val local = cust.withColumn("lr", row_number().over(wLoc))
    // band spine: counts per (segment, band) → exclusive prefix; ~20
    // bands per segment, so this frame is calendar-sized and broadcasts
    val wOff = Window.partitionBy(col("c_mktsegment")).orderBy(col("band"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = cust.groupBy(col("c_mktsegment"), col("band"))
      .agg(count(lit(1)).as("bc"))
      .withColumn("off", coalesce(sum(col("bc")).over(wOff), lit(0L)))
      .withColumn("n", sum(col("bc"))
        .over(Window.partitionBy(col("c_mktsegment"))))
      .select(col("c_mktsegment"), col("band"), col("off"), col("n"))
    val ranked = local.join(broadcast(offs), Seq("c_mktsegment", "band"))
      .withColumn("rk", col("off") + col("lr"))
    // ntile(10): sizes ceil(n/10) for the first n%10 buckets, floor
    // after — the SQL-standard allocation Spark and DuckDB both use
    val q = (col("n") / 10L).cast("long") // integer floor: n, 10 longs
    val rem = col("n") % 10L
    val cut = rem * (q + 1L)
    val decile = when(col("rk") <= cut, ceil(col("rk") / (q + 1L)))
      .otherwise(rem + ceil((col("rk") - cut) / q))
      .cast("int")
    ranked.select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
        decile.as("decile"),
        round(when(col("n") === 1L, 0.0)
          .otherwise((col("rk") - 1L).cast("double")
            / (col("n") - 1L).cast("double")), 6).as("pct_rank"),
        round(col("rk").cast("double") / col("n").cast("double"), 6)
          .as("cume"))
      .orderBy(col("c_custkey"))
  }

  /** First-touch session attribution: sessionize each user's event
    * stream by 30-minute inactivity gaps (the batch twin of
    * stream_sessionize), credit every purchase in a session to the
    * session's FIRST event type, and report per-channel sessions,
    * converted sessions, purchases, and conversion rate — the
    * marketing-attribution rollup every event warehouse serves.
    *
    * Scale posture: both windows partition by user (per-user event
    * counts bound the partitions — the natural key, not a handful of
    * giant channel partitions); the session rollup is one partial agg
    * keyed (user, session); the channel rollup is tiny. Integer epoch
    * arithmetic for the gap test (q27 precedent) and a unique
    * (ts, event_id) order key keep every step tie-free; the rate uses
    * floor(x 1e4 + 0.5)/1e4 on both sides (small-integer ratios land
    * on exact decimal halves). */
  def q39Attribution(spark: SparkSession, dir: String,
                     gapS: Long = 1800L): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), unix_timestamp(col("ts")).as("sec"))
    val wu = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val sess = ev
      .withColumn("new_sess",
        when(col("sec") - lag(col("sec"), 1).over(wu) > gapS
          || lag(col("sec"), 1).over(wu).isNull, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // the session's first event IS its new_sess=1 row (exactly one per
    // session), so first-touch needs no order-sensitive aggregate
    val perSession = sess.groupBy(col("user_id"), col("sess_id"))
      .agg(max(when(col("new_sess") === 1L, col("event_type")))
          .as("first_touch"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purch"))
    perSession.groupBy(col("first_touch"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_purch") > 0, 1L).otherwise(0L)).as("n_converted"),
        sum(col("n_purch")).as("n_purchases"))
      .select(col("first_touch"), col("n_sessions"), col("n_converted"),
        col("n_purchases"),
        (floor(col("n_converted") / col("n_sessions") * 10000.0 + 0.5)
          / 10000.0).as("conv_rate"))
      .orderBy(col("first_touch"))
  }

  /** TPC-H Q21 shape — the doubly-nested EXISTS / NOT EXISTS: suppliers
    * who were the SOLE late shipper in multi-supplier orders ("waiting
    * suppliers"), counted by order. The correlated subqueries
    * decorrelate to per-order aggregates: EXISTS(other supplier) ==
    * distinct-supplier count > 1; NOT EXISTS(other LATE supplier) ==
    * distinct-LATE-supplier count == 1 (the candidate being late makes
    * it that one). Late = shipped more than 60 days after the order
    * date.
    *
    * Scale posture: ONE lineitem-orders SHUFFLE_HASH join on the order
    * key feeds both the per-order stats (one partial agg: two distinct
    * counters) and the candidate pairs — the nested-subquery form
    * would rescan lineitem per predicate; candidates meet stats
    * co-partitioned on the order key; the supplier rollup and top-N
    * are k-sized. Date arithmetic is integer-day, tie-broken top-N. */
  def q40NestedExists(spark: SparkSession, dir: String,
                      lateDays: Int = 60, topN: Int = 10): DataFrame = Pins.scope { s =>
    import org.apache.spark.sql.graftbridge.SparkBridge
    // the narrow (orderkey, suppkey, late) join result feeds BOTH the
    // per-order stats and the candidate cut — checkpoint the 3-column
    // frame once instead of running the lineitem x orders join twice
    val li = SparkBridge.dropOriginStats(s.pin(Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_orderdate"))
          .hint("SHUFFLE_HASH"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(col("l_shipdate").cast("date"),
          col("o_orderdate").cast("date")) > lateDays).as("late"))))
    val stats = li.groupBy(col("l_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("ns"),
        countDistinct(when(col("late"), col("l_suppkey"))).as("nls"))
    val cand = li.filter(col("late"))
      .select(col("l_orderkey"), col("l_suppkey")).distinct()
    cand.join(stats.hint("SHUFFLE_HASH"), Seq("l_orderkey"))
      .filter(col("ns") > 1 && col("nls") === 1)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("l_suppkey"))
      .limit(topN)
  }

  /** SLIDING-window rollup (1-hour windows every 30 minutes): each
    * event lands in exactly len/slide = 2 overlapping windows — the
    * smoothing view dashboards want where a tumbling window aliases
    * spikes at bucket edges. Per (window, type): event count, exact
    * distinct users.
    *
    * Scale posture: Spark's `window(ts, len, slide)` expands each row
    * to its len/slide windows MAP-SIDE (a generator, no join against a
    * window dimension), then one partial agg; the distinct count is
    * the two-phase Expand plan. State is (windows x types)-sized. */
  def q41SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("n_users"))
      .orderBy(col("window_start"), col("event_type"))

  /** TPC-H Q22 shape — global-scalar filter + anti join: "promising
    * dormant customers" — above-average balance (average over the
    * positive-balance population of selected country codes) with no
    * orders since the cutoff (lapsed, not never-seen — every customer
    * in this corpus has SOME order), rolled up per country code. The
    * two classic decorrelations in one query: the scalar AVG subquery
    * becomes a one-row broadcast cross (never a driver action), and
    * NOT EXISTS (recent orders) becomes a LEFT_ANTI join.
    *
    * Scale posture: the anti join's big side is pre-shrunk to DISTINCT
    * recent-order custkeys (the date filter pushes into the orders
    * scan, then a partial-agg) before it meets customers; the
    * selective code filter pushes into both customer scans; the final
    * rollup is code-sized. Country code stands in for the reference's
    * substring(c_phone) — derived from c_nationkey, the same selective
    * dim-attribute shape. */
  def q43DormantCustomers(spark: SparkSession, dir: String,
                          codes: Seq[Int] = Seq(3, 7, 11, 15, 19),
                          cutoff: String = "2000-01-01"): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .withColumn("cntrycode", col("c_nationkey") % 25)
      .filter(col("cntrycode").isin(codes.map(Integer.valueOf): _*))
    // float-pin the threshold (qualityReport precedent): balances are
    // 2-decimal doubles, so the partial-sum order COULD move the avg by
    // an ulp; collapsing to float before the floor-round makes the
    // cut value bitwise-identical across engines and partitionings
    val avgBal = cust.filter(col("c_acctbal") > 0.0)
      .agg((floor(avg(col("c_acctbal")).cast("float").cast("double")
        * 100.0 + 0.5) / 100.0).as("avg_bal"))
    val buyers = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(cutoff).cast("timestamp"))
      .select(col("o_custkey")).distinct()
    cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(buyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("cntrycode"))
      .agg(count(lit(1)).as("n_cust"),
        round(sum(col("c_acctbal")), 2).as("total_bal"))
      .orderBy(col("cntrycode"))
  }

  /** TPC-H Q15 shape — the "who is the best supplier this quarter"
    * view + scalar-max lookup (reference analog: the per-area result
    * ranking the assembly step runs, index.js:519): per-supplier
    * revenue over a shipdate window, then the supplier(s) whose
    * revenue EQUALS the global max. The revenue view is one hash agg
    * over the window-filtered lineitem scan (filter pushed to
    * parquet); the max is a one-row partial-agg fold broadcast-crossed
    * onto the view (never a window over all suppliers, never a second
    * scan of lineitem); the supplier dim joins broadcast. Every
    * per-supplier sum is float-pinned then floor-rounded to a cent
    * (q43 precedent) BEFORE the max/equality compare, so partial-sum
    * order drift can neither move the max nor flip a tie with it.
    * Emitting the whole ranked view (not just the argmax rows) keeps
    * the oracle hash over every supplier's revenue. */
  def q44TopSupplier(spark: SparkSession, dir: String,
                     from: String = "1996-01-01",
                     until: String = "1996-04-01"): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(from).cast("timestamp") &&
        col("l_shipdate") < lit(until).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg((floor(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("float").cast("double") * 100.0 + 0.5) / 100.0)
        .as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    rev.crossJoin(broadcast(maxRev))
      .join(broadcast(Tables.supplier(spark, dir)
        .select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"),
        col("max_rev"), (col("total_rev") === col("max_rev")).as("is_top"))
      .orderBy(col("s_suppkey"))
  }
}
