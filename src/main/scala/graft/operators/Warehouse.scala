package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SparkBridge
import graft.Tables
import graft.functions.Pins

/** Warehouse-shaped operators the reference's DB layer implies but never
  * spells out: runtime-filtered fact scans, band (range) lookups, and
  * effective-dated (SCD2) dimension builds. The reference keeps its
  * operational state in Postgres (ram-analysis/app/index.js:200-339,
  * app/utils/operation.js) where these are a WHERE IN, a BETWEEN and an
  * updated_at trail; at 100 TB each needs a deliberately different shape.
  */
object Warehouse {

  /** Semi join where the big probe side is pre-filtered MAP-SIDE by a
    * bloom filter built from the small side — Spark's own runtime-filter
    * machinery ([[SparkBridge.bloomFilterAgg]]), driven explicitly
    * because `InjectRuntimeFilter` only fires for shuffle joins and the
    * verifying join here is a broadcast.
    *
    * Scale: the bloom blob is a scalar subquery — computed once
    * (partial-agg mergeable), shipped to every scan task; rows that fail
    * `might_contain` die inside the scan stage and never reach the join,
    * so the join's build-probe work tracks the MATCHING row count, not
    * the fact cardinality. False positives are removed by the exact
    * broadcast semi join that follows — the result is bit-identical to
    * the plain semi join the oracle runs.
    *
    * `expectedItems` sizes the bloom's bit array; when the caller has no
    * estimate it is derived from Catalyst's own plan statistic
    * (sizeInBytes / schema row width — the [[graft.streaming.EventStreams.enrich]]
    * pattern), so sizing adds NO extra job before the real query; the
    * explicit override remains for callers that know better. The
    * statistic over-counts rows (parquet size per row beats the schema's
    * default widths), which errs toward a larger, lower-FPP bloom — the
    * safe direction. A hardcoded estimate the build side outgrows
    * degrades the FPP toward 1 silently: still correct (the verify join
    * removes false positives) but the map-side scan savings quietly
    * vanish. */
  def bloomSemiJoin(large: DataFrame, largeKey: String,
                    small: DataFrame, smallKey: String,
                    expectedItems: Option[Long] = None): DataFrame = {
    val nItems = expectedItems.getOrElse {
      val stats = small.queryExecution.optimizedPlan.stats
      stats.rowCount.map(_.toLong).getOrElse {
        val width = small.queryExecution.optimizedPlan.output
          .map(_.dataType.defaultSize).sum + 8
        math.max(64L, (stats.sizeInBytes / BigInt(width)).toLong)
      }
    }
    val bloom = small.agg(
      SparkBridge.bloomFilterAgg(xxhash64(col(smallKey)), nItems)
        .as("bf"))
    val prefiltered = large.filter(
      SparkBridge.mightContain(SparkBridge.scalarSubquery(bloom),
        xxhash64(col(largeKey))))
    prefiltered.join(broadcast(small.select(col(smallKey)).distinct()),
      prefiltered(largeKey) === col(smallKey), "left_semi")
  }

  /** Query surface: lineitems supplied by suppliers of one nation — a
    * selective dim (≈1/25 of suppliers) against the biggest fact table,
    * the textbook runtime-filter win. Monthly volume rollup keeps the
    * output small and the aggregate partial. */
  def q30BloomSemi(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), col("l_shipdate"), col("l_extendedprice"))
    val sup = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") === 7)
      .select(col("s_suppkey"))
    bloomSemiJoin(li, "l_suppkey", sup, "s_suppkey")
      .groupBy(date_trunc("month", col("l_shipdate")).as("month"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("volume"))
      .orderBy(col("month"))
  }

  /** Non-uniform price bands. A banded lookup against a dim this size is
    * the one place a broadcast nested-loop join IS the scale-correct
    * plan: per fact row it scans 8 broadcast tiers map-side — O(|fact|),
    * zero shuffle of the fact side. (A banded dim too big to broadcast
    * would instead go through the [[AsofJoin]] merge pattern on the
    * lower bound.) Upper bound of the last band is open. */
  val PriceTiers: Seq[(Int, Double, Double)] = Seq(
    (0, 0.0, 1000.0), (1, 1000.0, 5000.0), (2, 5000.0, 20000.0),
    (3, 20000.0, 50000.0), (4, 50000.0, 100000.0),
    (5, 100000.0, 200000.0), (6, 200000.0, 400000.0),
    (7, 400000.0, 1.0e12))

  def rangeLookup(facts: DataFrame, valueCol: Column,
                  spark: SparkSession): DataFrame = {
    import spark.implicits._
    val tiers = PriceTiers.toDF("tier", "lo", "hi")
      .select(col("tier").cast("bigint").as("tier"), col("lo"), col("hi"))
    facts.join(broadcast(tiers), valueCol >= col("lo") && valueCol < col("hi"))
  }

  /** Query surface: order-value distribution across the price bands. */
  def q31RangeLookup(spark: SparkSession, dir: String): DataFrame =
    rangeLookup(Tables.orders(spark, dir).select(col("o_totalprice")),
      col("o_totalprice"), spark)
      .groupBy(col("tier"), col("lo"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_value"))
      .orderBy(col("tier"))

  /** Replay of the reference's operation-log state machine
    * (app/utils/operation.js): an operation is started (rejected with
    * "already running" / "already complete" if a start was already
    * accepted), carries logs only while running (else "not running" /
    * "already complete"), and is finished exactly once ("not running"
    * otherwise — the reference's finish() guard checks isStarted, so
    * finishing a completed op reports not-running, not already-complete).
    *
    * A sequential fold per key collapses to a closed form, so no
    * stateful iteration is needed: per operation the FIRST start is
    * accepted, the FIRST finish after it is accepted, logs strictly
    * between the two are accepted, everything else is rejected with the
    * reason above. Two whole-partition window passes (first-start key,
    * then first-finish-after-start key) classify every event — one
    * shuffle on the operation key, no self-join, no driver state.
    *
    * Scale posture: partitions by op key (one per user here), so state
    * per partition is bounded by the busiest single operation's event
    * count — the same bound any per-key stateful replay needs. The
    * ordering key is the zero-padded (epoch micros, event_id) string:
    * unique, lexicographically time-ordered, and identical to build in
    * the oracle's SQL dialect. */
  def q42OpLog(spark: SparkSession, dir: String): DataFrame =
    opLogReplay(opEventsOf(Tables.events(spark, dir)))

  /** The operation-event view of the raw event stream — ONE definition
    * shared by the batch replay, the status rollup and the streaming
    * twin: op key = user, signup/purchase = start/finish, the rest are
    * logs; `k` is the zero-padded (epoch micros, event_id) string — a
    * unique, lexicographically time-ordered sort key that the oracle
    * dialect rebuilds identically. */
  def opEventsOf(events: DataFrame): DataFrame =
    events.select(
      col("user_id").as("op_id"), col("event_id"),
      when(col("event_type") === "signup", lit("start"))
        .when(col("event_type") === "purchase", lit("finish"))
        .otherwise(lit("log")).as("action"),
      concat(lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 12, "0")).as("k"))

  /** The replay itself, over any (op_id, event_id, action, k) frame
    * where `k` is a unique, time-ordered sort key per event. */
  def opLogReplay(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("op_id"))
    val withFirst = ev
      .withColumn("s",
        min(when(col("action") === "start", col("k"))).over(w))
      .withColumn("f",
        min(when(col("action") === "finish" && col("k") > col("s"),
          col("k"))).over(w))
    val accepted =
      (col("action") === "start" && col("k") === col("s")) ||
      (col("action") === "log" && col("s").isNotNull &&
        col("k") > col("s") &&
        (col("f").isNull || col("k") < col("f"))) ||
      (col("action") === "finish" && col("f").isNotNull &&
        col("k") === col("f"))
    withFirst.select(col("op_id"), col("event_id"), col("action"),
        accepted.as("accepted"),
        when(accepted, lit(null).cast("string"))
          .when(col("action") === "finish", lit("not running"))
          .when(col("f").isNotNull && col("k") > col("f"),
            lit("already complete"))
          .when(col("action") === "start", lit("already running"))
          .otherwise(lit("not running")).as("reason"),
        when(col("f").isNotNull, lit("complete"))
          .when(col("s").isNotNull, lit("running"))
          .otherwise(lit("idle")).as("status_final"))
      .orderBy(col("op_id"), col("event_id"))
  }

  /** Build an SCD-type-2 dimension from a change stream: one row per
    * (key, state) episode with [valid_from, valid_to) effective range,
    * open-ended for the current row. One window pass per key — each
    * change row is shuffled exactly once on its key; no self-join.
    * The reference models this as a mutable Postgres row + an
    * operation_logs trail (operation.js:245); replaying the trail into
    * effective ranges is how that state moves to an immutable lake. */
  def scd2(changes: DataFrame, key: String, tsCol: String,
           stateCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol))
    changes
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col(key) +: col(tsCol).as("valid_from") +:
        col("valid_to") +: col("is_current") +: stateCols.map(col): _*)
  }

  /** Query surface: each user's purchase history as an effective-dated
    * "last purchase value" dimension (deterministic: one change row per
    * (user, ts) via max(event_id) tie-break before the window). */
  def q32Scd2(spark: SparkSession, dir: String): DataFrame = {
    val changes = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(struct(col("event_id"), col("value")),
        col("event_id")).as("row"))
      .select(col("user_id"), col("ts"),
        col("row.event_id").as("event_id"),
        round(col("row.value"), 2).as("value"))
    scd2(changes, "user_id", "ts", Seq("event_id", "value"))
      .orderBy(col("user_id"), col("valid_from"))
  }

  /** Batch MERGE INTO (upsert + delete in one pass): apply a change set
    * to the customer dimension — `WHEN MATCHED AND op='D' DELETE`,
    * `WHEN MATCHED UPDATE`, `WHEN NOT MATCHED INSERT` — as ONE
    * full-outer join plus a projection, the lakehouse merge-on-read
    * shape. The change set derives deterministically from orders
    * (per-customer spend; key % 97 deletes, key % 101 clones an insert
    * beyond the max key), so the whole merged table is oracle-checked.
    *
    * Scale posture: both sides shuffle once on the merge key
    * (SHUFFLE_HASH — full outer cannot broadcast, and hash beats sort
    * when neither side needs ordering); the max-key scalar is a one-row
    * broadcast fold, not a driver action. At 100 TB this is the same
    * single co-partitioned pass Delta/Iceberg MERGE plans. */
  def q36MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    val mk = t.agg(max(col("key")).as("mk"))
    val chg = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("key"))
      .agg(round(sum(col("o_totalprice")), 2).as("spend"))
    val upd = chg.withColumn("op",
      when(col("key") % 97 === 0, lit("D")).otherwise(lit("U")))
    val ins = chg.filter(col("key") % 101 === 0).crossJoin(broadcast(mk))
      .select((col("key") + col("mk") + 1).as("key"), col("spend"),
        lit("I").as("op"))
    val src = upd.unionByName(ins)
    t.join(src.hint("shuffle_hash"), Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("key"),
        coalesce(col("name"), concat(lit("new_"), col("key"))).as("name"),
        round(when(col("op").isin("U", "I"), col("spend"))
          .otherwise(col("bal")), 2).as("bal"),
        when(col("op") === "U", lit("updated"))
          .when(col("op") === "I", lit("inserted"))
          .otherwise(lit("kept")).as("action"))
      .orderBy(col("key"))
  }

  /** Declarative DATA-CONTRACT validation — the expectations gate
    * (Great-Expectations / dbt-test class) every ingest runs before
    * data is allowed downstream: per rule, rows checked, violations,
    * violation rate and a pass verdict. The battery covers the four
    * constraint families a contract needs — range (quantity, discount,
    * positivity), domain (order status), uniqueness (order key), and
    * referential integrity (every lineitem's order exists) — and the
    * corpus genuinely fails two of them (quantity ≤ 45 and discount
    * ≤ 0.08 are violated by real rows), so the report has live
    * violations without planting.
    *
    * Scale posture: all same-table rules fold in ONE map-side-combined
    * aggregation pass per table (a rule is a conditional sum, so adding
    * rules is free); uniqueness is count − countDistinct inside the
    * same pass; referential integrity is the only extra job — one
    * broadcast ANTI join counted (orders' key side broadcasts). The
    * one-row per-table aggregates meet in declared scalar crosses and
    * unpivot to the report map-side. */
  def q48DataContract(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val liAgg = li.agg(count(lit(1)).as("li_n"),
      sum(when(col("l_quantity") < 1.0 || col("l_quantity") > 45.0, 1L)
        .otherwise(0L)).as("v_qty"),
      sum(when(col("l_discount") > 0.08, 1L).otherwise(0L)).as("v_disc"))
    val oAgg = o.agg(count(lit(1)).as("o_n"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uniq"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L)).as("v_price"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
        .otherwise(0L)).as("v_status"))
    val refAgg = li
      .join(broadcast(o.select(col("o_orderkey"))),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v_ref"))
    liAgg.crossJoin(broadcast(oAgg)).crossJoin(broadcast(refAgg))
      .select(explode(array(
        struct(lit("li_quantity_range").as("rule"),
          col("li_n").as("n_checked"), col("v_qty").as("n_violations")),
        struct(lit("li_discount_max").as("rule"),
          col("li_n").as("n_checked"), col("v_disc").as("n_violations")),
        struct(lit("li_orderkey_ref").as("rule"),
          col("li_n").as("n_checked"), col("v_ref").as("n_violations")),
        struct(lit("o_orderkey_unique").as("rule"),
          col("o_n").as("n_checked"), col("v_uniq").as("n_violations")),
        struct(lit("o_totalprice_positive").as("rule"),
          col("o_n").as("n_checked"), col("v_price").as("n_violations")),
        struct(lit("o_status_domain").as("rule"),
          col("o_n").as("n_checked"), col("v_status").as("n_violations"))))
        .as("r"))
      .select(col("r.rule"), col("r.n_checked"), col("r.n_violations"),
        (floor(col("r.n_violations") / col("r.n_checked") * 10000.0 + 0.5)
          / 10000.0).as("violation_frac"),
        (col("r.n_violations") === 0L).as("passed"))
      .orderBy(col("rule"))
  }

  /** ENTITY RESOLUTION (record linkage / MDM match) — the fuzzy-match
    * rung exact joins cannot express: an arriving record batch (typo'd
    * duplicates of existing customers + genuinely new entities) is
    * matched against the master by BLOCKED candidate generation +
    * edit-distance verification — the canonical two-phase ER shape
    * (Fellegi-Sunter blocking): a cheap equi-join block key (the
    * 6-digit name suffix, which a leading-word typo preserves) bounds
    * the candidate pairs, then Levenshtein <= maxLev verifies inside
    * blocks, best match by (distance, id). Unmatched records keep -1
    * sentinels — they are the NEW-entity stream an MDM pipeline
    * inserts rather than merges.
    *
    * Determinism: Levenshtein is the classic DP (identical integers on
    * both engines), blocks and argmin total-ordered. Scale posture:
    * the batch BROADCASTS into the master scan on the block key (the
    * master never shuffles), per-block fan-out is bounded by block
    * cardinality, and the verdict joins are batch-sized. */
  def q50EntityMatch(spark: SparkSession, dir: String, maxLev: Int = 2)
      : DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"))
    val corpus = cust
      .select(col("c_custkey").as("cid"), col("c_name").as("cname"))
      .withColumn("blk", expr("right(cname, 6)"))
    val typos = cust.filter(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("bid"), lit("typo").as("kind"),
        concat(substring(col("c_name"), 1, 1),
          expr("substring(c_name, 3)")).as("bname"))
    val fresh = cust.filter(col("c_custkey") % 13 === 0)
      .select(col("c_custkey").as("bid"), lit("new").as("kind"),
        concat(lit("Vendor#"),
          lpad(col("c_custkey").cast("string"), 6, "0")).as("bname"))
    val batch = typos.unionByName(fresh)
    val cand = corpus
      .join(broadcast(batch.withColumn("blk", expr("right(bname, 6)"))),
        Seq("blk"))
      .withColumn("lev",
        levenshtein(col("bname"), col("cname")).cast("bigint"))
      .filter(col("lev") <= maxLev)
    val best = cand.groupBy(col("bid"), col("kind"))
      .agg(min_by(struct(col("cid"), col("lev")),
        struct(col("lev"), col("cid"))).as("b"))
    batch.join(broadcast(best), Seq("bid", "kind"), "left_outer")
      .select(col("bid"), col("kind"),
        coalesce(col("b.cid"), lit(-1L)).as("matched_id"),
        coalesce(col("b.lev"), lit(-1L)).as("lev"),
        col("b.cid").isNotNull.as("matched"))
      .orderBy(col("bid"), col("kind"))
  }

  /** Incremental MATERIALIZED-VIEW maintenance — the delta-merge that
    * keeps a standing aggregate current without rescanning history (at
    * 100 TB the base scan is the unaffordable part; a view you must
    * rebuild from scratch is not a view, it's a report): the base
    * partition (event_id % 10 < 8 — the standing snapshot's stand-in)
    * and the arriving delta each reduce to MERGEABLE per-group state
    * (count, sum — the partial-agg pair), and the merge is one
    * group-keyed full-outer fold: groups only in base pass through,
    * groups only in the delta appear, overlapping groups add their
    * states. `updated` marks exactly the groups the delta touched —
    * what an incremental refresh would rewrite.
    *
    * Scale posture: both sides reduce map-side before anything
    * shuffles (state is groups-sized, not rows-sized); the merge is a
    * shuffle-hash full outer on the group key (full outer cannot
    * broadcast — both sides must keep unmatched groups); a real deploy
    * stores the base state and replays only deltas, which this
    * operator's algebra makes a pure state-add. Spec pins
    * merge == full recompute and that `updated` is exactly the
    * delta's group set. */
  /** JOIN-KEY SKEW REPORT — the operational measurement that decides
    * whether a join needs salting BEFORE it falls over (the 100 TB
    * failure mode is one straggler partition, and the fix — salt
    * factor, AQE skew thresholds, broadcast cutoffs — is chosen from
    * exactly these numbers): per candidate join key, row/key counts,
    * the heaviest key's absolute size and corpus share, the p50/p99 of
    * the KEY-SIZE distribution (threshold rule over the size histogram
    * — integer-exact, the [[Sketches.weightedQuantiles]] pattern), and
    * the heaviest key's multiple of the mean (x100, integer div).
    *
    * Scale shape: per key, one key-keyed partial-agg count, then the
    * per-key sizes collapse AGAIN to a size histogram (distinct-sizes
    * cardinality — tiny), so the quantile window never touches a
    * key-sized frame; totals ride a one-row broadcast cross. */
  def q51SkewReport(spark: SparkSession, dir: String): DataFrame = {
    def keySkew(df: DataFrame, key: String, name: String): DataFrame = {
      val sizes = df.groupBy(col(key).as("k")).agg(count(lit(1)).as("c"))
      val hist = sizes.groupBy(col("c")).agg(count(lit(1)).as("nk"))
        .withColumn("cum", sum(col("nk")).over(Window.orderBy(col("c"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = sizes.agg(count(lit(1)).as("n_keys"),
        sum(col("c")).as("n_rows"), max(col("c")).as("max_key_rows"))
      hist.crossJoin(broadcast(tot))
        .agg(first(col("n_rows")).as("n_rows"),
          first(col("n_keys")).as("n_keys"),
          first(col("max_key_rows")).as("max_key_rows"),
          min(when(col("cum") * 2 >= col("n_keys"), col("c")))
            .as("p50_key_rows"),
          min(when(col("cum") * 100 >= col("n_keys") * 99, col("c")))
            .as("p99_key_rows"))
        .select(lit(name).as("key_name"), col("n_rows"), col("n_keys"),
          col("max_key_rows"),
          (floor(col("max_key_rows") / col("n_rows") * 1000000.0 + 0.5)
            / 1000000.0).as("max_key_share"),
          col("p50_key_rows"), col("p99_key_rows"),
          expr("max_key_rows * n_keys * 100 div n_rows").as("skew_x100"))
    }
    keySkew(Tables.events(spark, dir), "user_id", "events.user_id")
      .unionByName(keySkew(Tables.lineitem(spark, dir), "l_orderkey",
        "lineitem.l_orderkey"))
      .unionByName(keySkew(Tables.orders(spark, dir), "o_custkey",
        "orders.o_custkey"))
      .orderBy(col("key_name"))
  }

  /** DuckDB restatement of [[q51SkewReport]]. */
  def q51SkewReportOracle(): String = {
    def arm(table: String, key: String, name: String): String =
      s"""SELECT '$name' AS key_name, n_rows, n_keys, max_key_rows,
           floor(CAST(max_key_rows AS DOUBLE) / n_rows * 1000000.0 + 0.5)
             / 1000000.0 AS max_key_share,
           p50_key_rows, p99_key_rows,
           max_key_rows * n_keys * 100 // n_rows AS skew_x100
         FROM (
           SELECT CAST(min(CASE WHEN cum * 2 >= n_keys THEN c END)
               AS BIGINT) AS p50_key_rows,
             CAST(min(CASE WHEN cum * 100 >= n_keys * 99 THEN c END)
               AS BIGINT) AS p99_key_rows,
             CAST(min(n_rows) AS BIGINT) AS n_rows,
             CAST(min(n_keys) AS BIGINT) AS n_keys,
             CAST(min(max_key_rows) AS BIGINT) AS max_key_rows
           FROM (
             SELECT h.c, sum(h.nk) OVER (ORDER BY h.c
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               t.n_keys, t.n_rows, t.max_key_rows
             FROM (SELECT c, count(*) AS nk FROM (
                 SELECT $key, count(*) AS c FROM $table GROUP BY $key) s
               GROUP BY c) h,
               (SELECT count(*) AS n_keys, sum(c) AS n_rows,
                 max(c) AS max_key_rows FROM (
                 SELECT $key, count(*) AS c FROM $table GROUP BY $key) s2
               ) t) u) v"""
    s"""${arm("events", "user_id", "events.user_id")}
       UNION ALL ${arm("lineitem", "l_orderkey", "lineitem.l_orderkey")}
       UNION ALL ${arm("orders", "o_custkey", "orders.o_custkey")}
       ORDER BY key_name"""
  }

  def q49ViewMaintain(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        date_trunc("hour", col("ts")).as("window_start"))
    def state(df: DataFrame, n: String, s: String): DataFrame = df
      .groupBy(col("window_start"), col("event_type"))
      .agg(count(lit(1)).as(n), sum(col("value")).as(s))
    val base = state(ev.filter(col("event_id") % 10 < 8), "n_b", "s_b")
    val delta = state(ev.filter(col("event_id") % 10 >= 8), "n_d", "s_d")
    base.join(delta.hint("shuffle_hash"),
        Seq("window_start", "event_type"), "full_outer")
      .select(col("window_start"), col("event_type"),
        (coalesce(col("n_b"), lit(0L)) + coalesce(col("n_d"), lit(0L)))
          .as("n_events"),
        round(coalesce(col("s_b"), lit(0.0))
          + coalesce(col("s_d"), lit(0.0)), 2).as("sum_value"),
        col("n_d").isNotNull.as("updated"))
      .orderBy(col("window_start"), col("event_type"))
  }

  /** CHANGE DATA FEED between table versions — the lakehouse read verb
    * [[graft.sources.SnapshotLog.diff]] exists for, driven end-to-end:
    * a customer dimension is committed at v0, one MERGE applies a
    * deterministic change batch (deletes at key % 13 == 4; balance
    * updates at key % 7 == 3; inserts at maxkey + key for source keys
    * % 11 == 5), and the output is the derived row-level changelog
    * v0 → v1 — exactly what a downstream incremental consumer (index
    * refresh, aggregate maintenance, replication) pulls instead of
    * re-reading the table. Deletes take precedence over updates on
    * overlapping keys (the CDC convention); arithmetic is pure IEEE
    * (+100.0, /2.0 — no rounding anywhere), so both engines agree
    * bitwise.
    *
    * Scale posture: the diff scans ONLY the symmetric difference of
    * the two manifests' segment lists (copy-on-write shares the rest
    * by reference), so its cost is the commit's size, never the
    * table's; the classify join is one shuffle-hash full outer on the
    * key. Lifecycle is fingerprint-keyed and replay-guarded: a rerun
    * commits nothing and re-derives the same feed (the
    * rag_index_compact discipline).
    *
    * Reference analog: the reference's result tables are regenerated
    * and re-uploaded wholesale per run (ram-analysis/app/s3/utils.js:5
    * removeFile + :65 putFile); this derives the per-row delta between
    * any two retained versions instead. */
  def q52SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val t = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/customer.parquet")
    val path = ModelStore.root(spark) +
      s"/snapdiff_v1_${ModelStore.md5(s"snapdiff|$fp")}"
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, t, path, "key")
    if (SnapshotLog.latestVersion(path).contains(0)) {
      val mk = t.agg(max(col("key")).as("mk"))
      val dels = t.filter(col("key") % 13 === 4)
        .withColumn("_del", lit(true))
      val upds = t.filter(col("key") % 7 === 3 && col("key") % 13 =!= 4)
        .withColumn("bal", col("bal") + lit(100.0))
        .withColumn("_del", lit(false))
      val ins = t.filter(col("key") % 11 === 5).crossJoin(broadcast(mk))
        .select((col("key") + col("mk")).as("key"),
          concat(lit("new_"), col("name")).as("name"),
          (col("bal") / lit(2.0)).as("bal"), lit(false).as("_del"))
      SnapshotLog.merge(spark, dels.unionByName(upds).unionByName(ins),
        path, "key", "_del")
    }
    SnapshotLog.diff(spark, path, 0, 1, "key")
      .select(col("key"), col("change"),
        col("_old.bal").as("bal_old"), col("_new.bal").as("bal_new"))
      .orderBy(col("key"))
  }

  /** STATS-PRUNED RANGE READ — data skipping through the versioned
    * table's manifest ([[graft.sources.SnapshotLog.readRange]]): the
    * orders fact is committed as four key-range-sliced segments
    * (create + three appends — the layout a range-partitioned ingest
    * produces naturally), then a key-range query consults the
    * per-segment [min,max] stats and scans exactly ONE of the four.
    * The output row carries the scanned/total segment counts beside
    * the range aggregate, so a pruning regression (scanning 4/4)
    * breaks the driver hash instead of silently costing 4× the I/O —
    * at 100 TB this is the difference between reading a partition and
    * reading the table. Pure count/min/max aggregates — nothing
    * float-ordered. */
  /** ADDITIVE SCHEMA EVOLUTION through the versioned table — the
    * other lifecycle change a long-lived dataset is guaranteed to hit
    * (a new feature column lands mid-history): the part dimension is
    * committed as TWO pre-evolution key-range segments of (key, name);
    * an APPEND then arrives already carrying a new `retail` column
    * (keys shifted by maxkey+1 — part keys start at 0 — so segment ranges stay disjoint and
    * COW-prunable); an UPSERT under the widened schema rewrites a
    * slice of the FIRST pre-evolution segment only — the second stays
    * live and two-column at latest, so the mergeSchema read genuinely
    * reconciles heterogeneous live segments. Evolved rows carry their
    * value, never-touched pre-evolution rows read null, and a v0
    * time-travel read still has the ORIGINAL two-column schema
    * (spec-pinned) — the Delta/Iceberg additive contract, without
    * rewriting any committed segment.
    *
    * Arithmetic is one IEEE division (retail/2.0 on the upserted
    * slice); everything else is column plumbing, so the oracle is
    * closed-form in the id space. Lifecycle fingerprint-keyed and
    * replay-guarded like its siblings. */
  def q54SnapshotEvolve(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val p = Tables.part(spark, dir)
      .select(col("p_partkey").as("key"), col("p_name").as("name"),
        col("p_retailprice").as("retail"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/part.parquet")
    val path = ModelStore.root(spark) +
      s"/snapevolve_v1_${ModelStore.md5(s"snapevolve|$fp")}"
    // max-key scalar rides the plan ([[graft.functions.Scalars]]);
    // shiftright = the exact long halving the collected mk/2 computed
    val mk = graft.functions.Scalars.scalarOf(p.agg(max(col("key"))))
    val h = shiftright(mk, 1)
    // v0/v1: the pre-evolution history, two key-range segments
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark,
        p.filter(col("key") <= h).select(col("key"), col("name")),
        path, "key")
    if (SnapshotLog.latestVersion(path).contains(0))
      SnapshotLog.append(spark,
        p.filter(col("key") > h).select(col("key"), col("name")),
        path, "key")
    // v2: the evolving append — `retail` arrives with the new rows
    if (SnapshotLog.latestVersion(path).contains(1))
      SnapshotLog.append(spark,
        p.select((col("key") + mk + lit(1L)).as("key"),
          concat(lit("n2_"), col("name")).as("name"), col("retail")),
        path, "key")
    // v3: an upsert under the widened schema confined to the FIRST
    // pre-evolution segment's range — the second pre-evolution segment
    // stays live (and two-column) at latest, so the mergeSchema read
    // genuinely reconciles heterogeneous segments
    if (SnapshotLog.latestVersion(path).contains(2))
      SnapshotLog.upsert(spark,
        p.filter(col("key") % 10 === 7 && col("key") <= h)
          .select(col("key"), col("name"),
            (col("retail") / lit(2.0)).as("retail")),
        path, "key")
    SnapshotLog.read(spark, path, mergeSchema = true)
      .select(col("key"), col("name"), col("retail"))
      .orderBy(col("key"))
  }

  /** COLUMN RENAME + DROP through the versioned table — the OTHER half
    * of schema evolution ([[q54SnapshotEvolve]] covers ADD): a renamed
    * source column must not fork the table, and a retired column must
    * disappear without rewriting a byte. Both verbs are METADATA-ONLY
    * commits via column mapping (Delta's column-mapping mode "name" —
    * physical parquet names frozen at first write, each version's
    * manifest carrying its own logical view, SnapshotLog.scala's
    * `_colmap`):
    *
    *   v0 create (key, name, retail) on the first half of part;
    *   v1 RENAME retail -> price (no segment read or written);
    *   v2 append the second half UNDER THE NEW NAME at 2x price —
    *      the writer speaks logical `price`, the segment stores
    *      physical `retail`, so old and new segments share one
    *      physical schema;
    *   v3 DROP name (physical data stays for time travel);
    *   v4 upsert price/2 on key%10==3 of the first half under the
    *      post-drop two-column schema.
    *
    * Output: the latest logical rows LEFT-joined with the v0
    * time-travel view — one hash pins the rename (price == v0 retail
    * for untouched keys), the append-after-rename (2x rows join null:
    * v0 never had them), the drop (no `name` at latest; `name_v0`
    * still readable), and the upsert arithmetic. All arithmetic is
    * exact binary scaling (x2, /2). Lifecycle fingerprint-keyed and
    * replay-guarded like its siblings — a rerun commits nothing. */
  def q66SnapshotEvolve2(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val p = Tables.part(spark, dir)
      .select(col("p_partkey").as("key"), col("p_name").as("name"),
        col("p_retailprice").as("retail"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/part.parquet")
    val path = ModelStore.root(spark) +
      s"/snapevolve2_v1_${ModelStore.md5(s"snapevolve2|$fp")}"
    // max-key scalar rides the plan ([[graft.functions.Scalars]])
    val mk = graft.functions.Scalars.scalarOf(p.agg(max(col("key"))))
    val h = shiftright(mk, 1)
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, p.filter(col("key") <= h), path, "key")
    if (SnapshotLog.latestVersion(path).contains(0))
      SnapshotLog.renameColumn(spark, path, "retail", "price")
    if (SnapshotLog.latestVersion(path).contains(1))
      SnapshotLog.append(spark,
        p.filter(col("key") > h).select(col("key"), col("name"),
          (col("retail") * lit(2.0)).as("price")),
        path, "key")
    if (SnapshotLog.latestVersion(path).contains(2))
      SnapshotLog.dropColumn(spark, path, "name")
    if (SnapshotLog.latestVersion(path).contains(3))
      SnapshotLog.upsert(spark,
        p.filter(col("key") % 10 === 3 && col("key") <= h)
          .select(col("key"), (col("retail") / lit(2.0)).as("price")),
        path, "key")
    val latest = SnapshotLog.read(spark, path)
      .select(col("key"), col("price"))
    val v0 = SnapshotLog.read(spark, path, Some(0))
      .select(col("key"), col("name").as("name_v0"),
        col("retail").as("retail_v0"))
    latest.join(v0.hint("shuffle_hash"), Seq("key"), "left_outer")
      .select(col("key"), col("price"), col("name_v0"), col("retail_v0"))
      .orderBy(col("key"))
  }

  /** FIELD-ID COLUMN RE-ADD through the versioned table — the third
    * schema-evolution rung (q54 = ADD, q66 = RENAME/DROP, this = the
    * drop-then-re-add cycle r17 declared as the format's one
    * limitation, now first-class via monotone field ids):
    *
    *   v0 create (key, name, retail) on the low half of part;
    *   v1 RENAME retail -> price (metadata-only);
    *   v2 DROP name (metadata-only);
    *   v3 append the high half speaking `name` AGAIN — a drop-retired
    *      logical name, allocated a FRESH physical (name__f1), so the
    *      retired physical keeps serving v0 time travel while history
    *      null-fills the re-added column;
    *   v4 append a batch speaking `retail` — the physical STORAGE name
    *      of the renamed `price`, equally retired; it lands as its own
    *      fresh physical (retail__f2), shadowing nothing.
    *
    * Output: the latest mergeSchema read — one hash pins the rename
    * (price == retail for the low half), both re-adds (v3 names
    * surface with an r_ prefix, the v4 column carries retail/4 on
    * shifted keys), AND the null-fill contract (every pre-re-add row
    * reads NULL for both re-added columns — a resurrection of the
    * retired physical's values would break the hash). Arithmetic is
    * exact binary scaling (x2, /4). Lifecycle fingerprint-keyed and
    * replay-guarded like its q52-q66 siblings. */
  def q67SnapshotReadd(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val p = Tables.part(spark, dir)
      .select(col("p_partkey").as("key"), col("p_name").as("name"),
        col("p_retailprice").as("retail"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/part.parquet")
    val path = ModelStore.root(spark) +
      s"/snapreadd_v1_${ModelStore.md5(s"snapreadd|$fp")}"
    // max-key scalar rides the plan ([[graft.functions.Scalars]])
    val mk = graft.functions.Scalars.scalarOf(p.agg(max(col("key"))))
    val h = shiftright(mk, 1)
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, p.filter(col("key") <= h), path, "key")
    if (SnapshotLog.latestVersion(path).contains(0))
      SnapshotLog.renameColumn(spark, path, "retail", "price")
    if (SnapshotLog.latestVersion(path).contains(1))
      SnapshotLog.dropColumn(spark, path, "name")
    if (SnapshotLog.latestVersion(path).contains(2))
      SnapshotLog.append(spark,
        p.filter(col("key") > h).select(col("key"),
          concat(lit("r_"), col("name")).as("name"),
          (col("retail") * lit(2.0)).as("price")),
        path, "key")
    if (SnapshotLog.latestVersion(path).contains(3))
      SnapshotLog.append(spark,
        p.filter(col("key") % 5 === 2 && col("key") <= h)
          .select((col("key") + mk + lit(1L)).as("key"),
            (col("retail") / lit(4.0)).as("retail")),
        path, "key")
    SnapshotLog.read(spark, path, mergeSchema = true)
      .select(col("key"), col("price"), col("name"),
        col("retail").as("retail2"))
      .orderBy(col("key"))
  }

  def q53SnapshotPrune(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_custkey").as("cust"),
        col("o_totalprice").as("price"))
    // driver-state read: k4 derives readRange's lo/hi — manifest
    // stats-pruning bounds the DRIVER compares against segment rows
    // (the documented exception in [[graft.functions.Scalars]])
    val mk = o.agg(max(col("key"))).collect().head.getLong(0)
    val k4 = mk / 4L + 1L
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/orders.parquet")
    val path = ModelStore.root(spark) +
      s"/snaprange_v1_${ModelStore.md5(s"snaprange|$fp")}"
    def slice(s: Long): DataFrame =
      o.filter(col("key") >= s * k4 && col("key") < (s + 1) * k4)
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, slice(0), path, "key")
    var v = SnapshotLog.latestVersion(path).get
    while (v < 3) {
      SnapshotLog.append(spark, slice(v + 1L), path, "key")
      v = SnapshotLog.latestVersion(path).get
    }
    val lo = k4 + k4 / 4L
    val hi = k4 + k4 / 2L
    val (rows, scanned, total) =
      SnapshotLog.readRange(spark, path, "key", lo, hi)
    rows.agg(count(lit(1)).as("n_rows"),
        min(col("key")).as("min_key"), max(col("key")).as("max_key"),
        countDistinct(col("cust")).as("n_cust"))
      .select(lit(lo).as("lo"), lit(hi).as("hi"), col("n_rows"),
        col("min_key"), col("max_key"), col("n_cust"),
        lit(scanned).as("segments_scanned"), lit(total).as("segments_total"))
  }

  /** CLUSTERED COMPACTION through the versioned table (the lakehouses'
    * OPTIMIZE with a sort column) — the maintenance step that keeps
    * [[q53SnapshotPrune]]'s data skipping alive under CDC churn: orders
    * arrives as EIGHT key-interleaved churn segments (key % 8 == i — a
    * feed partitioned by something other than the query key), so every
    * segment spans the whole key space and a range probe must scan all
    * eight (stats pruning defeated, measured in the output). One
    * [[graft.sources.SnapshotLog.compact]] with `slices = 4` folds them
    * into four key-DISJOINT equal-width segments; the same probe then
    * scans exactly ONE. Both probe shapes ride in the hashed output
    * (8/8 before, 1/4 after) beside the range aggregate, so a
    * clustering regression — or a compaction that loses rows — breaks
    * the driver hash instead of silently costing 8× the I/O forever.
    * The before-probe reads version 7 (immutable manifest), the
    * after-probe reads latest; replay re-derives both without
    * committing (every step version-guarded). At 100 TB this is the
    * nightly OPTIMIZE every lakehouse schedules: compaction cost is
    * the churn's size, never the table's, and the payoff is every
    * subsequent range read. */
  def q55SnapshotCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_custkey").as("cust"))
    // driver-state read: lo/hi below are readRange pruning bounds
    // (the documented exception in [[graft.functions.Scalars]])
    val mk = o.agg(max(col("key"))).collect().head.getLong(0)
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/orders.parquet")
    val path = ModelStore.root(spark) +
      s"/snapcompact_v1_${ModelStore.md5(s"snapcompact|$fp")}"
    // v0..v7: the churn history — one segment per key residue class,
    // each spanning ~[i, mk]: worst case for min/max stats pruning
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, o.filter(col("key") % 8 === 0), path, "key")
    var v = SnapshotLog.latestVersion(path).get
    while (v < 7) {
      SnapshotLog.append(spark, o.filter(col("key") % 8 === (v + 1L)),
        path, "key")
      v = SnapshotLog.latestVersion(path).get
    }
    val lo = mk / 8L
    val hi = mk / 8L + mk / 16L
    val (before, scannedB, totalB) =
      SnapshotLog.readRange(spark, path, "key", lo, hi, Some(7))
    if (SnapshotLog.latestVersion(path).contains(7))
      SnapshotLog.compact(spark, path, "key", Long.MaxValue, slices = 4)
    val (after, scannedA, totalA) =
      SnapshotLog.readRange(spark, path, "key", lo, hi)
    // the aggregate reads through the PRUNED path (after); `before`
    // feeds the row-conservation cross-check only (one-row broadcast
    // cross — the q51 pattern, declared in the plan gate)
    after.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("cust")).as("n_cust"))
      .join(broadcast(before.agg(count(lit(1)).as("n_rows_churn"))))
      .select(lit(lo).as("lo"), lit(hi).as("hi"), col("n_rows"),
        col("n_rows_churn"), col("n_cust"),
        lit(scannedB).as("scanned_churn"), lit(totalB).as("total_churn"),
        lit(scannedA).as("scanned_compacted"),
        lit(totalA).as("total_compacted"))
  }

  /** Z-ORDER CLUSTERED COMPACTION vs 1-D — the multi-dimensional
    * data-skipping demonstration (Delta `OPTIMIZE ZORDER BY
    * (custkey, orderdate)`): the SAME churned orders history (eight
    * key-residue segments, every one spanning the full customer AND
    * date space) is compacted two ways — [[graft.sources.SnapshotLog
    * .compact]] 16-sliced on customer (1-D), and [[graft.sources
    * .SnapshotLog.compactZOrder]] 16-sliced along the Morton curve of
    * (customer, order-day) with BOTH columns' min/max in the manifest.
    * Three probe families then run against both layouts through
    * [[graft.sources.SnapshotLog.readBox]]: a customer range, a date
    * range, and the 2-D box. The 1-D layout serves exactly one family
    * (customer prunes hard; date scans EVERYTHING — the production
    * incident this operator exists to prevent); the z layout serves
    * all three at ~sqrt pruning — each z slice is a compact 2-D tile,
    * so per-column stats are tight on both axes. All six
    * scanned/total counts ride in the hashed output beside the box
    * aggregate (closed-form in the oracle, which re-derives the
    * interleave arithmetic, slice boundaries and per-slice stats in
    * SQL) — a clustering regression on either layout breaks the
    * driver hash, not just a latency chart. The box aggregate reads
    * through the z-pruned path; the 1-D path's box count rides beside
    * it as row conservation (the two layouts must serve identical
    * data). Replay: both tables fingerprint-keyed and version-guarded
    * — a rerun probes, commits nothing. */
  def q59SnapshotZorder(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey").as("key"),
      col("o_custkey").as("cust"),
      datediff(col("o_orderdate").cast("date"),
        lit(java.sql.Date.valueOf("1992-01-01"))).cast("long").as("day"),
      col("o_totalprice").as("price"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/orders.parquet")
    val pathL = ModelStore.root(spark) +
      s"/zlin_v1_${ModelStore.md5(s"zlin|$fp")}"
    // _v2: the manifest's secondary stats moved from min_key2/max_key2
    // columns to the per-column stats map — a warm _v1 table would be
    // read format-blind and lose its date-axis pruning
    val pathZ = ModelStore.root(spark) +
      s"/zord_v2_${ModelStore.md5(s"zord|$fp")}"
    def churn(path: String): Unit = {
      if (SnapshotLog.latestVersion(path).isEmpty)
        SnapshotLog.create(spark, o.filter(col("key") % 8 === 0), path,
          "cust")
      var v = SnapshotLog.latestVersion(path).get
      while (v < 7) {
        SnapshotLog.append(spark, o.filter(col("key") % 8 === (v + 1L)),
          path, "cust")
        v = SnapshotLog.latestVersion(path).get
      }
    }
    churn(pathL); churn(pathZ)
    if (SnapshotLog.latestVersion(pathL).contains(7))
      SnapshotLog.compact(spark, pathL, "cust", Long.MaxValue, slices = 16)
    if (SnapshotLog.latestVersion(pathZ).contains(7))
      SnapshotLog.compactZOrder(spark, pathZ, "cust", "day", slices = 16)
    // driver-state read: readBox pruning bounds (the documented
    // exception in [[graft.functions.Scalars]])
    val b = o.agg(min(col("cust")), max(col("cust")),
      min(col("day")), max(col("day"))).collect().head
    val (cmin, cmax, dmin, dmax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    val (cLo, cHi) =
      (cmin + 7L * (cmax - cmin) / 16L, cmin + 9L * (cmax - cmin) / 16L)
    val (dLo, dHi) =
      (dmin + 7L * (dmax - dmin) / 16L, dmin + 9L * (dmax - dmin) / 16L)
    val (_, sCustL, totL) =
      SnapshotLog.readBox(spark, pathL, "cust", "day", cLo, cHi, dmin, dmax)
    val (_, sCustZ, totZ) =
      SnapshotLog.readBox(spark, pathZ, "cust", "day", cLo, cHi, dmin, dmax)
    val (_, sDayL, _) =
      SnapshotLog.readBox(spark, pathL, "cust", "day", cmin, cmax, dLo, dHi)
    val (_, sDayZ, _) =
      SnapshotLog.readBox(spark, pathZ, "cust", "day", cmin, cmax, dLo, dHi)
    val (boxL, sBoxL, _) =
      SnapshotLog.readBox(spark, pathL, "cust", "day", cLo, cHi, dLo, dHi)
    val (boxZ, sBoxZ, _) =
      SnapshotLog.readBox(spark, pathZ, "cust", "day", cLo, cHi, dLo, dHi)
    boxZ.agg(count(lit(1)).as("n_rows"),
        round(sum(col("price")), 2).as("sum_price"))
      .join(broadcast(boxL.agg(count(lit(1)).as("n_rows_linear"))))
      .select(lit(cLo).as("c_lo"), lit(cHi).as("c_hi"),
        lit(dLo).as("d_lo"), lit(dHi).as("d_hi"),
        col("n_rows"), col("sum_price"), col("n_rows_linear"),
        lit(sCustL).as("scan_cust_linear"),
        lit(sCustZ).as("scan_cust_zorder"),
        lit(sDayL).as("scan_date_linear"),
        lit(sDayZ).as("scan_date_zorder"),
        lit(sBoxL).as("scan_box_linear"),
        lit(sBoxZ).as("scan_box_zorder"),
        lit(totL).as("total_linear"), lit(totZ).as("total_zorder"))
  }

  /** RETENTION GC through the versioned table — the lifecycle step
    * that makes time travel AFFORDABLE (an append-only history of a
    * 100 TB table is an unbounded bill; Delta VACUUM / Iceberg
    * expire_snapshots is how production tables bound it): customer
    * builds a four-version history (initial load, two appends, a full
    * compaction), version 1 is PINNED (the "training run X read corpus
    * version 1" contract), then `gc(retainLast = 1)` expires
    * everything else. The hashed output is the surviving history —
    * per version: manifest stats (n_segments, n_rows), the row count
    * RE-READ from the data files, and the pin flag. The re-read
    * column is the point: version 1's segments are ALSO referenced by
    * expired versions 0 and 2, so a GC that computed reachability
    * wrong (deleted a shared segment) or a pin that failed to hold
    * breaks the hash — the shared-segment protection is observable,
    * not asserted. Version 2's unshared segment IS reclaimed (its
    * version drops out of history). Replay: every commit is
    * version-guarded, pin is an idempotent marker create, and a
    * second gc finds nothing expirable — same output, no new
    * version. */
  def q56SnapshotRetention(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/customer.parquet")
    val path = ModelStore.root(spark) +
      s"/snapretain_v1_${ModelStore.md5(s"snapretain|$fp")}"
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, c.filter(col("key") % 4 === 0), path, "key")
    if (SnapshotLog.latestVersion(path).contains(0))
      SnapshotLog.append(spark, c.filter(col("key") % 4 === 1), path, "key")
    SnapshotLog.pin(path, 1)
    if (SnapshotLog.latestVersion(path).contains(1))
      SnapshotLog.append(spark, c.filter(col("key") % 4 === 2), path, "key")
    if (SnapshotLog.latestVersion(path).contains(2))
      SnapshotLog.compact(spark, path, "key")
    SnapshotLog.gc(spark, path, retainLast = 1)
    val hist = SnapshotLog.history(spark, path)
    // driver-state read: the survivor version list IS driver state
    // (manifest-count-sized, like every manifest collect)
    val alive = hist.select(col("version")).collect().map(_.getInt(0))
    val reread = alive.map { v =>
      SnapshotLog.read(spark, path, Some(v))
        .agg(count(lit(1)).as("reread_rows"))
        .select(lit(v).as("version"), col("reread_rows"))
    }.reduce(_ unionByName _)
    val pinned = SnapshotLog.pinnedVersions(path).toSeq
    hist.join(broadcast(reread), Seq("version"))
      .select(col("version"), col("n_segments"), col("n_rows"),
        col("reread_rows"), col("version").isin(pinned: _*).as("pinned"))
      .orderBy(col("version"))
  }

  /** RESTORE after a bad batch — the versioned table's "oops" path
    * (Delta RESTORE / Iceberg rollback): customer is loaded at v0, a
    * fat-fingered MERGE lands at v1 (deletes every key%5==0, corrupts
    * key%3==1 balances at +100), and
    * [[graft.sources.SnapshotLog.restore]] rolls the table back at v2
    * — ONE segment-count-sized manifest commit re-listing v0's
    * segments BY REFERENCE: zero data rewritten, and the bad version
    * stays time-travelable for audit (nothing is erased until
    * retention GC). The hashed output reads BOTH states through the
    * log — the restored latest beside the damaged v1 (deleted keys
    * null, corrupted balances visible) — so a restore that lost rows,
    * resurrected deletes wrongly, or destroyed the audit trail breaks
    * the driver hash. Replay is version-guarded: a rerun re-reads
    * both versions and commits nothing. */
  def q57SnapshotRestore(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/customer.parquet")
    val path = ModelStore.root(spark) +
      s"/snaprestore_v1_${ModelStore.md5(s"snaprestore|$fp")}"
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, c, path, "key")
    if (SnapshotLog.latestVersion(path).contains(0)) {
      val dels = c.filter(col("key") % 5 === 0)
        .withColumn("_del", lit(true))
      val bad = c.filter(col("key") % 3 === 1 && col("key") % 5 =!= 0)
        .withColumn("bal", col("bal") + lit(100.0))
        .withColumn("_del", lit(false))
      SnapshotLog.merge(spark, dels.unionByName(bad), path, "key", "_del")
    }
    if (SnapshotLog.latestVersion(path).contains(1))
      SnapshotLog.restore(spark, path, 0)
    val restored = SnapshotLog.read(spark, path)
      .select(col("key"), col("bal"))
    val damaged = SnapshotLog.read(spark, path, Some(1))
      .select(col("key"), col("bal").as("bal_bad"))
    restored.join(damaged, Seq("key"), "left_outer")
      .orderBy(col("key"))
  }

  /** WRITE-AUDIT-PUBLISH through the versioned table — Iceberg's WAP
    * ingestion gate, the production answer to "never let a bad batch
    * become visible": each incoming batch is STAGED as real segment
    * files plus a non-version manifest (readers of any committed
    * version cannot see it), the data contract runs against the
    * staged view (the table AS IF published — table-level audits, not
    * just batch-level), and only a clean audit PUBLISHES (one atomic
    * manifest-sized commit, data moving by reference); a dirty batch
    * is abandoned and its segments swept by the stage-aware gc. Here:
    * orders is the base, a GOOD batch (key%9==5 shifted past the key
    * space, halved price) audits clean and publishes at v1; a BAD
    * batch (key%9==7 shifted further, price negated on even source
    * keys — the fat-finger sign flip) audits dirty and never
    * commits. The hashed output is the per-batch audit report with
    * `published` and `table_rows` READ BACK from the log (batch-key
    * membership in latest + latest's row count), so a gate that
    * leaked the bad batch, dropped the good one, or let staged rows
    * into a committed version breaks the driver hash. Replay re-runs
    * the failed batch's audit (an unpublished batch is recorded
    * nowhere — the retry semantics every WAP pipeline has), reaches
    * the same verdict, commits nothing; the end-of-run gc keeps the
    * replayed stage's orphans from accumulating. */
  def q58SnapshotWap(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("key"), col("o_custkey").as("cust"),
        col("o_totalprice").as("price"))
    // max-key scalar rides the plan ([[graft.functions.Scalars]])
    val mk = graft.functions.Scalars.scalarOf(o.agg(max(col("key"))))
    val good = o.filter(col("key") % 9 === 5)
      .select((col("key") + mk + lit(1L)).as("key"), col("cust"),
        (col("price") / lit(2.0)).as("price"))
    val bad = o.filter(col("key") % 9 === 7)
      .select((col("key") + (mk + lit(1L)) * lit(2L)).as("key"), col("cust"),
        when(col("key") % 2 === 0, -col("price")).otherwise(col("price"))
          .as("price"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/orders.parquet")
    val path = ModelStore.root(spark) +
      s"/snapwap_v1_${ModelStore.md5(s"snapwap|$fp")}"
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, o, path, "key")
    // the audit: the price-sign contract over the STAGED view
    def audit(name: String): Long =
      SnapshotLog.readStaged(spark, path, name)
        .filter(col("price") < 0).count()
    def gate(batch: DataFrame, name: String): Long = {
      SnapshotLog.stage(spark, batch, path, "key", name)
      val viol = audit(name)
      if (viol == 0L) SnapshotLog.publishStage(spark, path, name)
      else SnapshotLog.abandonStage(path, name)
      viol
    }
    if (SnapshotLog.latestVersion(path).contains(0)) gate(good, "b_good")
    // the bad batch is gated on EVERY run at latest == 1 — an
    // unpublished batch is recorded nowhere, so the pipeline retries
    // it; the verdict is deterministic and nothing commits
    val badViol =
      if (SnapshotLog.latestVersion(path).contains(1)) gate(bad, "b_bad")
      else 0L
    SnapshotLog.gc(spark, path, retainLast = 2)
    val latest = SnapshotLog.read(spark, path)
    // published flags read back from the log: batch-key-range
    // membership in the committed latest. ONE aggregation job for the
    // three table-side counts and ONE for the two batch sizes (was
    // five separate count() actions, each its own job + planning)
    val tRow = latest.agg(
      count(lit(1)).as("n"),
      count(when(col("key") > mk && col("key") <= mk * lit(2L) + lit(1L),
        lit(1))).as("g"),
      count(when(col("key") > mk * lit(2L) + lit(1L), lit(1))).as("b"))
      .head()
    val (nTable, nGoodIn, nBadIn) =
      (tRow.getLong(0), tRow.getLong(1), tRow.getLong(2))
    val bRow = o.agg(
      count(when(col("key") % 9 === 5, lit(1))).as("g"),
      count(when(col("key") % 9 === 7, lit(1))).as("b")).head()
    val (gN, bN) = (bRow.getLong(0), bRow.getLong(1))
    import spark.implicits._
    Seq(
      ("bad", bN, badViol, nBadIn > 0L, nTable),
      ("good", gN, 0L, nGoodIn == gN, nTable))
      .toDF("batch", "n_rows", "n_violations", "published", "table_rows")
      .orderBy(col("batch"))
  }

  /** CONCURRENT-MERGE REBASE through the versioned table — the
    * optimistic-concurrency rung above q58's single-writer WAP (the
    * Delta/Iceberg logical conflict check; reference analog: the
    * reference serializes concurrent project runs with an operation
    * lock, ram-analysis/app/utils/operation.js — this keeps BOTH
    * writers when their write sets cannot conflict): customer is
    * committed as two key-DISJOINT segments (low half, high half);
    * writer A merges a +100 balance adjustment over low keys %7==3 and
    * wins v2; writer B — deliberately rebased from the STALE base v1,
    * the deterministic re-creation of losing the race — merges a
    * doubled balance over high keys %5==2, hits
    * ConcurrentCommitException at v2, inspects A's touched ranges
    * (low-half only, disjoint from B's high keys), REBASES
    * automatically and commits v3. Both writers' payloads serve at
    * latest. The hashed output is the final per-key table read back
    * through the log plus the read-back latest version and history
    * length — a rebase that mis-versioned, replayed A's rows, or
    * dropped B's breaks the hash; arithmetic is single IEEE ops per
    * row (+100.0, *2.0), nothing float-ordered. Replay: every step
    * version-guarded — a rerun reads back, commits nothing. */
  def q60MergeRebase(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/customer.parquet")
    val path = ModelStore.root(spark) +
      s"/mrebase_v1_${ModelStore.md5(s"mrebase|$fp")}"
    // max-key scalar rides the plan ([[graft.functions.Scalars]])
    val mk = graft.functions.Scalars.scalarOf(c.agg(max(col("key"))))
    val h = shiftright(mk, 1)
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, c.filter(col("key") <= h), path, "key")
    if (SnapshotLog.latestVersion(path).contains(0))
      SnapshotLog.append(spark, c.filter(col("key") > h), path, "key")
    // writer A: wins v2 with a low-half merge
    if (SnapshotLog.latestVersion(path).contains(1))
      SnapshotLog.merge(spark,
        c.filter(col("key") <= h && col("key") % 7 === 3)
          .withColumn("bal", col("bal") + lit(100.0))
          .withColumn("_del", lit(false)),
        path, "key", "_del")
    // writer B: based on STALE v1 (it read the table before A
    // committed), targets v2, loses, proves A's write set disjoint
    // from its own high-half keys, rebases, commits v3
    if (SnapshotLog.latestVersion(path).contains(2)) {
      val vB = SnapshotLog.mergeOrRebaseFrom(spark,
        c.filter(col("key") > h && col("key") % 5 === 2)
          .withColumn("bal", col("bal") * lit(2.0))
          .withColumn("_del", lit(false)),
        path, "key", "_del", baseV = 1)
      require(vB == 3, s"rebase must land at v3, got $vB")
    }
    val latest = SnapshotLog.latestVersion(path).get
    val nVersions = SnapshotLog.history(spark, path).count()
    SnapshotLog.read(spark, path)
      .select(col("key"), col("bal"),
        lit(latest).cast("int").as("latest_version"),
        lit(nVersions).cast("int").as("n_versions"))
      .orderBy(col("key"))
  }

  /** FOLLOWER-DRIVEN INCREMENTAL VIEW MAINTENANCE — the change-feed
    * follower's canonical consumer (stream_view_maintain's batch
    * cousin, fed by the TABLE's own change feed instead of an event
    * stream; reference analog: the DB layer re-imports each project's
    * results wholesale per run cycle, ram-analysis/app/index.js —
    * this pays each commit once): a per-group (count, sum) view over
    * a churning orders table is BOOTSTRAPPED once from v0, then
    * maintained ONLY from [[graft.sources.SnapshotLog.followDiff]]
    * feeds — two further source commits (v1: deletes %11==4, +50000
    * updates %13==2, inserts %29==5 shifted past the key space;
    * v2: doubling updates %19==7 and deletes %23==9 over the CURRENT
    * table state) each reduce to per-group (Δcount, Δsum) and land as
    * one groups-sized view merge. The base table is NEVER rescanned
    * after bootstrap — at 100 TB the view update costs the commit's
    * size. Values are integer CENTS (floor(price*100+0.5)) so
    * incremental addition is exact and associative — the dyadic-grid
    * discipline with no float anywhere. Each view commit is STAMPED
    * with the source version it applied ([[graft.sources.SnapshotLog
    * .lastTxnVersion]], Delta's txnAppId/txnVersion) and the apply is
    * guarded on that watermark, so the follower's at-least-once
    * delivery has CRASH-SAFE exactly-once EFFECT: the marker travels
    * inside the commit itself — no window between "applied" and
    * "recorded" — and the guard survives rewrite-only gaps in the
    * source history (spec winds the cursor back to force a
    * re-delivery). The
    * hashed output is the final view read back plus the view's
    * version and the follower's cursor — a skipped feed, double
    * apply, or wrong delta breaks the hash; the oracle restates the
    * net state closed-form in the id space. */
  /** The churned (key, grp, cents) source table the follower-driven
    * views (q61, q62) consume: v0 = full orders; v1 = deletes %11==4,
    * +50000 updates %13==2, inserts %29==5 shifted past the key space;
    * v2 (over the CURRENT state, so updates compound honestly) =
    * deletes %23==9, doubling updates %19==7. Integer cents
    * (floor(price*100+0.5)); every commit version-guarded; the table
    * path is `tag`-keyed so each consumer family can own an isolated
    * copy of the identical history. Returns the table path. */
  private def churnedMvSource(spark: SparkSession, dir: String,
                              tag: String): String = {
    import graft.sources.{ModelStore, SnapshotLog}
    val o = Tables.orders(spark, dir).select(
      col("o_orderkey").as("key"),
      (col("o_orderkey") % 16).as("grp"),
      floor(col("o_totalprice") * lit(100.0) + lit(0.5)).cast("long")
        .as("cents"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/orders.parquet")
    val srcPath = ModelStore.root(spark) +
      s"/${tag}_v1_${ModelStore.md5(s"$tag|$fp")}"
    // max-key scalar rides the plan ([[graft.functions.Scalars]])
    val mk = graft.functions.Scalars.scalarOf(o.agg(max(col("key"))))
    if (SnapshotLog.latestVersion(srcPath).isEmpty)
      SnapshotLog.create(spark, o, srcPath, "key")
    if (SnapshotLog.latestVersion(srcPath).contains(0)) {
      val dels = o.filter(col("key") % 11 === 4)
        .withColumn("_del", lit(true))
      val upds = o.filter(col("key") % 13 === 2 && col("key") % 11 =!= 4)
        .withColumn("cents", col("cents") + lit(50000L))
        .withColumn("_del", lit(false))
      val ins = o.filter(col("key") % 29 === 5)
        .select((col("key") + mk + lit(1L)).as("key"),
          ((col("key") + mk + lit(1L)) % 16).as("grp"), col("cents"))
        .withColumn("_del", lit(false))
      SnapshotLog.merge(spark, dels.unionByName(upds).unionByName(ins),
        srcPath, "key", "_del")
    }
    if (SnapshotLog.latestVersion(srcPath).contains(1)) {
      val cur = SnapshotLog.read(spark, srcPath)
        .filter(col("key") <= mk) // original-key space only
      val dels = cur.filter(col("key") % 23 === 9)
        .withColumn("_del", lit(true))
      val upds = cur.filter(col("key") % 19 === 7 && col("key") % 23 =!= 9)
        .withColumn("cents", col("cents") * lit(2L))
        .withColumn("_del", lit(false))
      SnapshotLog.merge(spark, dels.unionByName(upds), srcPath, "key",
        "_del")
    }
    srcPath
  }

  def q61FollowMv(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val srcPath = churnedMvSource(spark, dir, "fmvsrc")
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/orders.parquet")
    val viewPath = ModelStore.root(spark) +
      s"/fmvview_v1_${ModelStore.md5(s"fmvview|$fp")}"
    // BOOTSTRAP: the one full scan the view ever pays
    if (SnapshotLog.latestVersion(viewPath).isEmpty)
      SnapshotLog.create(spark,
        SnapshotLog.read(spark, srcPath, Some(0))
          .groupBy(col("grp"))
          .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("sum_cents")),
        viewPath, "grp")
    // THE FOLLOWER: each not-yet-consumed commit reduces to per-group
    // deltas and lands as one groups-sized view merge STAMPED with the
    // applied source version (the txn watermark travels inside the
    // commit), so a re-delivered feed no-ops — crash-safe exactly-once
    // effect even across rewrite-only gaps in the source history
    SnapshotLog.followDiff(spark, srcPath, "key", "mv") { (feed, v) =>
      if (SnapshotLog.lastTxnVersion(viewPath, "mv").forall(_ < v)) {
        val delta = feed.select(
            coalesce(col("_new.grp"), col("_old.grp")).as("grp"),
            when(col("change") === "insert", 1L)
              .when(col("change") === "delete", -1L)
              .otherwise(0L).as("dc"),
            (coalesce(col("_new.cents"), lit(0L)) -
              coalesce(col("_old.cents"), lit(0L))).as("ds"))
          .groupBy(col("grp"))
          .agg(sum(col("dc")).as("dc"), sum(col("ds")).as("ds"))
        val cur = SnapshotLog.read(spark, viewPath)
        val upd = cur.join(delta.hint("shuffle_hash"), Seq("grp"),
            "right_outer")
          .select(col("grp"),
            (coalesce(col("cnt"), lit(0L)) + col("dc")).as("cnt"),
            (coalesce(col("sum_cents"), lit(0L)) + col("ds"))
              .as("sum_cents"))
          .withColumn("_del", col("cnt") === 0L)
        SnapshotLog.merge(spark, upd, viewPath, "grp", "_del",
          txn = Some(("mv", v)))
        ()
      }
    }
    val viewV = SnapshotLog.latestVersion(viewPath).get
    val cursor = SnapshotLog.cursorVersion(srcPath, "mv").getOrElse(0)
    SnapshotLog.read(spark, viewPath)
      .select(col("grp"), col("cnt"), col("sum_cents"),
        lit(viewV).cast("int").as("view_version"),
        lit(cursor).cast("int").as("cursor_version"))
      .orderBy(col("grp"))
  }

  /** FOLLOWER-DRIVEN MIN/MAX VIEW MAINTENANCE — the NON-DISTRIBUTIVE
    * aggregate case q61's count/sum never hits (the textbook hard
    * problem of incremental view maintenance: a deletion can EVICT the
    * group's extremum, and no delta arithmetic can recover the
    * runner-up): the same churned source history feeds a per-group
    * (count, min, max) view through the change-feed follower. Per
    * feed, each touched group takes one of two arms decided from the
    * PRE-FEED view row and the feed's own delta stats — INCREMENTAL
    * when every removed value sits strictly inside the group's open
    * (min, max) interval (min/max can only tighten outward:
    * new_min = least(min, inserted values), one groups-sized join, no
    * base read), or GROUP RESCAN when a removed value ties-or-beats an
    * extremum (`removed <= min OR removed >= max` — ties rescan too,
    * conservatively, since a duplicate extremal value survives): only
    * the EVICTED groups re-aggregate, from the source read AT THE
    * FEED'S VERSION (not latest — the follower may be mid-history), so
    * the rescan costs the evicted groups' rows, never the table.
    * A group whose delta count reaches zero tombstones out of the view.
    * Each view commit is txn-stamped with the applied source version
    * (crash-safe exactly-once, the q61 contract).
    *
    * The hashed output is the final view PLUS `rescanned_groups` — the
    * total eviction count re-derived from COMMITTED state (each
    * historical feed's decision recomputed against the view version it
    * applied to), so it is replay-stable and the oracle restates the
    * whole eviction arithmetic closed-form in the id space; the spec
    * pins the live run's decisions against an in-memory replay.
    * Reference analog: the DB re-import cycle again
    * (ram-analysis/app/index.js) — this is the consumer that CANNOT
    * always be incremental and must know, provably, when it isn't. */
  /** Per-group (count, min, max) over a (grp, cents) frame — the view
    * shape [[minmaxMaintain]] maintains. */
  private def minmaxAggView(rows: DataFrame): DataFrame =
    rows.groupBy(col("grp"))
      .agg(count(lit(1)).as("cnt"), min(col("cents")).as("mn"),
        max(col("cents")).as("mx"))

  /** Per-feed decision frame for min/max view maintenance: post-feed
    * count, insert-side extrema, and the EVICTION verdict against the
    * pre-feed view row (removed ties-or-beats an extremum → rescan). */
  private[graft] def minmaxDecide(feed: DataFrame,
                                  pre: DataFrame): DataFrame = {
    val perGrp = feed.select(
        coalesce(col("_new.grp"), col("_old.grp")).as("grp"),
        when(col("change") === "insert", 1L)
          .when(col("change") === "delete", -1L)
          .otherwise(0L).as("dc"),
        col("_new.cents").as("addv"), col("_old.cents").as("remv"))
      .groupBy(col("grp"))
      .agg(sum(col("dc")).as("dc"),
        min(col("addv")).as("add_mn"), max(col("addv")).as("add_mx"),
        min(col("remv")).as("rem_mn"), max(col("remv")).as("rem_mx"))
    pre.join(perGrp.hint("shuffle_hash"), Seq("grp"), "right_outer")
      .select(col("grp"),
        (coalesce(col("cnt"), lit(0L)) + col("dc")).as("cnt"),
        col("mn"), col("mx"), col("add_mn"), col("add_mx"),
        coalesce(col("rem_mn").isNotNull && col("mn").isNotNull &&
          (col("rem_mn") <= col("mn") || col("rem_mx") >= col("mx")),
          lit(false)).as("evict"))
  }

  /** The min/max view-maintenance CONSUMER, extracted from
    * [[q62FollowMvMinmax]] so specs can drive it against arbitrary
    * sources (e.g. a mass-eviction feed): bootstraps the view from
    * source v0 when absent, then follows `srcPath`'s change feed under
    * follower/txn name `app`, maintaining the per-group (cnt, mn, mx)
    * view at `viewPath` with the two-arm discipline documented on
    * [[q62FollowMvMinmax]]. Returns versions delivered this call. */
  private[graft] def minmaxMaintain(spark: SparkSession, srcPath: String,
                                    viewPath: String, app: String): Int = {
    import graft.sources.SnapshotLog
    def nullMin(a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =
      when(a.isNull, b).when(b.isNull, a).otherwise(least(a, b))
    def nullMax(a: org.apache.spark.sql.Column,
                b: org.apache.spark.sql.Column) =
      when(a.isNull, b).when(b.isNull, a).otherwise(greatest(a, b))
    if (SnapshotLog.latestVersion(viewPath).isEmpty)
      SnapshotLog.create(spark,
        minmaxAggView(SnapshotLog.read(spark, srcPath, Some(0))), viewPath,
        "grp")
    SnapshotLog.followDiff(spark, srcPath, "key", app) { (feed, v) =>
      if (SnapshotLog.lastTxnVersion(viewPath, app).forall(_ < v)) Pins.scope { s =>
        val d = s.pin(minmaxDecide(feed, SnapshotLog.read(spark, viewPath)))
        // evicted groups re-aggregate from the source AT THE FEED'S
        // version, selected by a broadcast LEFT-SEMI join against the
        // eviction frame — never a collect: a feed that evicts every
        // group (a whole-partition delete) stays executor-side instead
        // of building a driver list and a groups-sized isin expression
        // tree. The one driver touch is a 1-row any-evictions probe
        // that lets an eviction-free feed skip the source read.
        val anyEvict = d.filter(col("evict")).limit(1).count() > 0L
        val rescanned =
          if (!anyEvict) d.select(col("grp"), col("cnt"),
            col("mn"), col("mx")).limit(0)
          else minmaxAggView(SnapshotLog.read(spark, srcPath, Some(v))
            .join(broadcast(d.filter(col("evict")).select(col("grp"))),
              Seq("grp"), "left_semi"))
        val emptied = d.filter(col("evict") && col("cnt") === 0L)
          .select(col("grp"), col("cnt"),
            lit(null).cast("long").as("mn"), lit(null).cast("long").as("mx"))
        val incr = d.filter(!col("evict"))
          .select(col("grp"), col("cnt"),
            nullMin(col("mn"), col("add_mn")).as("mn"),
            nullMax(col("mx"), col("add_mx")).as("mx"))
        SnapshotLog.merge(spark,
          incr.unionByName(rescanned).unionByName(emptied)
            .withColumn("_del", col("cnt") === 0L),
          viewPath, "grp", "_del", txn = Some((app, v)))
        ()
      }
    }
  }

  def q62FollowMvMinmax(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val srcPath = churnedMvSource(spark, dir, "fmmsrc")
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/orders.parquet")
    val viewPath = ModelStore.root(spark) +
      s"/fmmview_v1_${ModelStore.md5(s"fmmview|$fp")}"
    minmaxMaintain(spark, srcPath, viewPath, "mvmm")
    // replay-stable eviction audit: re-derive every historical feed's
    // decisions from COMMITTED state (view version v-1 + source diff).
    // The v-1 pairing assumes every source commit landed exactly one
    // view commit (true here: churnedMvSource never compacts, and the
    // follower starts at v0) — assert it, so a future rewrite-only
    // source commit or a late-starting follower fails loudly instead
    // of silently auditing the wrong view version.
    val vSrc = SnapshotLog.latestVersion(srcPath).get
    require(SnapshotLog.latestVersion(viewPath).contains(vSrc),
      s"q62 audit: view history (${SnapshotLog.latestVersion(viewPath)}) " +
        s"is not 1:1 with source feeds ($vSrc) - the v-1 pairing is invalid")
    // ONE action for the whole audit: the per-version eviction counts
    // are independent frames, so summing per-version count() actions
    // paid vSrc jobs + plannings for one integer — the unioned count is
    // the same sum (bag semantics) in a single job whose version arms
    // run as parallel stages (r22; guide §1.2-1 fewer actions)
    val rescans =
      if (vSrc < 1) 0L
      else (1 to vSrc).map { v =>
        minmaxDecide(SnapshotLog.diff(spark, srcPath, v - 1, v, "key"),
            SnapshotLog.read(spark, viewPath, Some(v - 1)))
          .filter(col("evict")).select(lit(1L).as("one"))
      }.reduce(_ unionByName _).count()
    val viewV = SnapshotLog.latestVersion(viewPath).get
    val cursor = SnapshotLog.cursorVersion(srcPath, "mvmm").getOrElse(0)
    SnapshotLog.read(spark, viewPath)
      .select(col("grp"), col("cnt"), col("mn"), col("mx"),
        lit(rescans).cast("int").as("rescanned_groups"),
        lit(viewV).cast("int").as("view_version"),
        lit(cursor).cast("int").as("cursor_version"))
      .orderBy(col("grp"))
  }

  /** DELETION-VECTOR (merge-on-read) MERGE through the versioned table
    * ([[graft.sources.SnapshotLog.mergeDv]]) — the write-amplification
    * fix for update-heavy histories: the customer dimension is
    * committed as FOUR key-range segments, then ONE MoR merge applies
    * point deletes (key % 13 == 4) and +100.0 balance updates
    * (key % 7 == 3) confined to the FIRST quarter of the key space,
    * plus inserts (key % 11 == 5, shifted past max) — and rewrites
    * NOTHING: the commit is a tombstone sidecar plus one delta
    * segment, every prior segment riding by reference (a COW merge
    * would re-write the whole affected segment for the same rows;
    * spec-measured O(delta) bytes in DeletionVectorSpec).
    *
    * The hashed output is the final logical table (read through the
    * tombstone anti join) PLUS the physics read back from the
    * committed manifest: segment count (4 originals + 1 delta — a
    * rewrite would change it), how many segments carry vectors
    * (exactly the one the delta touched — more means the presence
    * scan over-tombstoned, fewer means deletes were lost or
    * physically rewritten), and the exact suppressed-row count. The
    * oracle restates all of it closed-form in the id space, so a
    * wrong tombstone, a resurrection, or a silent fallback to
    * copy-on-write breaks the hash. Arithmetic is one IEEE add /
    * divide per touched row. Lifecycle fingerprint-keyed and
    * replay-guarded like its q52-q59 siblings. */
  def q63MergeDv(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val t = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    // max-key scalar rides the plan ([[graft.functions.Scalars]]);
    // shiftright(mk, 2) = the exact long mk/4 the collect computed
    val mk = graft.functions.Scalars.scalarOf(t.agg(max(col("key"))))
    val q = shiftright(mk, 2) + lit(1L)
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/customer.parquet")
    val path = ModelStore.root(spark) +
      s"/snapdv_v1_${ModelStore.md5(s"snapdv|$fp")}"
    def slice(s: Long): DataFrame =
      t.filter(col("key") >= q * s && col("key") < q * (s + 1))
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, slice(0), path, "key")
    var v = SnapshotLog.latestVersion(path).get
    while (v < 3) {
      SnapshotLog.append(spark, slice(v + 1L), path, "key")
      v = SnapshotLog.latestVersion(path).get
    }
    if (SnapshotLog.latestVersion(path).contains(3)) {
      val dels = t.filter(col("key") < q && col("key") % 13 === 4)
        .select(col("key"), col("bal"), lit(true).as("_del"))
      val upds = t.filter(col("key") < q && col("key") % 7 === 3 &&
          col("key") % 13 =!= 4)
        .select(col("key"), (col("bal") + lit(100.0)).as("bal"),
          lit(false).as("_del"))
      val ins = t.filter(col("key") % 11 === 5)
        .select((col("key") + mk + lit(1L)).as("key"),
          (col("bal") / lit(2.0)).as("bal"), lit(false).as("_del"))
      SnapshotLog.mergeDv(spark, dels.unionByName(upds).unionByName(ins),
        path, "key", "_del")
    }
    // the physics, read back from the committed manifest (segment-
    // count-sized driver state — the format's documented one collect)
    val m = SnapshotLog.manifest(spark, path, 4).collect()
    def dvRows(r: org.apache.spark.sql.Row): Long =
      if (!r.schema.fieldNames.contains("dv_rows") ||
        r.isNullAt(r.fieldIndex("dv_rows"))) 0L
      else r.getLong(r.fieldIndex("dv_rows"))
    val nDvSegs = m.count(dvRows(_) > 0L)
    val suppressed = m.map(dvRows).sum
    SnapshotLog.read(spark, path)
      .select(col("key"), col("bal"),
        lit(SnapshotLog.latestVersion(path).get).cast("int")
          .as("latest_version"),
        lit(m.length).cast("int").as("n_segments"),
        lit(nDvSegs).cast("int").as("n_dv_segments"),
        lit(suppressed).cast("bigint").as("dv_suppressed"))
      .orderBy(col("key"))
  }

  /** TARGETED TOMBSTONE PURGE under the hash gate
    * ([[graft.sources.SnapshotLog.purgeDv]] — Iceberg's
    * rewrite-position-deletes / Delta's REORG PURGE): after [[q63MergeDv]]'s
    * dense merge wave the first segment is ~19% tombstoned, a second
    * all-delete wave leaves the second segment ~3% tombstoned, and a
    * purge at minDvFrac = 0.1 must rewrite EXACTLY the dense one —
    * folding its vectors into data — while the sparse segment keeps
    * riding by reference WITH its tombstones still attached (rewriting
    * it too would be COW write amplification, the thing MoR exists to
    * avoid).
    *
    * The hashed output is the final logical table plus the physics:
    * segment count (unchanged — the purge is 1:1), exactly one
    * segment still vectored, the exact surviving suppressed count
    * (the sparse wave's — the dense wave's tombstones are gone into
    * data), and how many segments the purge rewrote (exactly 1,
    * computed as the manifest set difference v6 \ v5). A purge that
    * rewrites too much, too little, loses a tombstone, or resurrects
    * a dense-wave delete breaks the hash; the oracle restates the
    * table and every count closed-form in the id space. Reference
    * analog: the result-replacement cycle (ram-analysis/app/
    * index.js:122-134) that makes update-heavy tables accumulate dead
    * rows in the first place. */
  def q64PurgeDv(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    val t = Tables.customer(spark, dir)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"))
    // max-key scalar rides the plan ([[graft.functions.Scalars]]);
    // shiftright(mk, 2) = the exact long mk/4 the collect computed
    val mk = graft.functions.Scalars.scalarOf(t.agg(max(col("key"))))
    val q = shiftright(mk, 2) + lit(1L)
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/customer.parquet")
    val path = ModelStore.root(spark) +
      s"/snapdvp_v1_${ModelStore.md5(s"snapdvp|$fp")}"
    def slice(s: Long): DataFrame =
      t.filter(col("key") >= q * s && col("key") < q * (s + 1))
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, slice(0), path, "key")
    var v = SnapshotLog.latestVersion(path).get
    while (v < 3) {
      SnapshotLog.append(spark, slice(v + 1L), path, "key")
      v = SnapshotLog.latestVersion(path).get
    }
    if (SnapshotLog.latestVersion(path).contains(3)) {
      // the dense wave — q63's merge shape: ~19% of segment 0
      val dels = t.filter(col("key") < q && col("key") % 13 === 4)
        .select(col("key"), col("bal"), lit(true).as("_del"))
      val upds = t.filter(col("key") < q && col("key") % 7 === 3 &&
          col("key") % 13 =!= 4)
        .select(col("key"), (col("bal") + lit(100.0)).as("bal"),
          lit(false).as("_del"))
      val ins = t.filter(col("key") % 11 === 5)
        .select((col("key") + mk + lit(1L)).as("key"),
          (col("bal") / lit(2.0)).as("bal"), lit(false).as("_del"))
      SnapshotLog.mergeDv(spark, dels.unionByName(upds).unionByName(ins),
        path, "key", "_del")
    }
    if (SnapshotLog.latestVersion(path).contains(4)) {
      // the sparse wave — an all-delete merge leaving ~3% of segment 1
      // tombstoned (below the purge threshold; no delta segment)
      val sparse = t.filter(col("key") >= q && col("key") < q * lit(2L) &&
          col("key") % 29 === 7)
        .select(col("key"), col("bal"), lit(true).as("_del"))
      SnapshotLog.mergeDv(spark, sparse, path, "key", "_del")
    }
    if (SnapshotLog.latestVersion(path).contains(5))
      SnapshotLog.purgeDv(spark, path, "key", minDvFrac = 0.1)
    val segsAt = (n: Int) => SnapshotLog.manifest(spark, path, n).collect()
    def dvRows(r: org.apache.spark.sql.Row): Long =
      if (!r.schema.fieldNames.contains("dv_rows") ||
        r.isNullAt(r.fieldIndex("dv_rows"))) 0L
      else r.getLong(r.fieldIndex("dv_rows"))
    val m5 = segsAt(5).map(_.getAs[String]("seg")).toSet
    val m = segsAt(6)
    SnapshotLog.read(spark, path)
      .select(col("key"), col("bal"),
        lit(SnapshotLog.latestVersion(path).get).cast("int")
          .as("latest_version"),
        lit(m.length).cast("int").as("n_segments"),
        lit(m.count(dvRows(_) > 0L)).cast("int").as("n_dv_segments"),
        lit(m.map(dvRows).sum).cast("bigint").as("dv_suppressed"),
        lit(m.count(r => !m5.contains(r.getAs[String]("seg"))))
          .cast("int").as("n_rewritten"))
      .orderBy(col("key"))
  }

  /** BLOOM-PRUNED POINT LOOKUP under the hash gate
    * ([[graft.sources.SnapshotLog.readPoint]]): a z-ordered table's tiles
    * OVERLAP on the key axis (each tile is a 2-D quadrant — several
    * tiles' key ranges contain any given key), so min/max pruning
    * alone over-scans every point lookup; the per-tile key bloom the
    * maintenance rewrite recorded settles which tile actually holds
    * the key, on the driver, before any scan is scheduled.
    *
    * Three probes, each a distinct physics class: a LIVE key (found,
    * scanned < total), a DELETION-VECTORED key (the bloom indexes
    * physical rows so its tile scans, and the read's anti join
    * returns nothing — found = 0 but NOT bloom-excluded), and an
    * ABSENT-in-range key (every covering tile's bloom excludes it —
    * zero segments scanned, the lookup never touches data). The
    * exact scanned counts are bloom-bit determined (deterministic for
    * fixed data, not closed-form), so the hashed verdicts are the
    * CLASS booleans — pruned (scanned < total) and bloom_excluded
    * (scanned == 0) — plus the found payload; the oracle restates all
    * three rows literally. Verified stable at sf 0.001/0.01/0.1. */
  def q65PointSkip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ModelStore, SnapshotLog}
    // keys k % 3 == 0 are dropped so an absent-IN-RANGE probe exists
    val t = Tables.customer(spark, dir)
      .filter(col("c_custkey") % 3 =!= 0)
      .select(col("c_custkey").as("key"), col("c_acctbal").as("bal"),
        floor(col("c_acctbal") * 100).cast("long").as("y"))
    val fp = ModelStore.corpusFingerprint(spark, s"$dir/customer.parquet")
    val path = ModelStore.root(spark) +
      s"/snappt_v1_${ModelStore.md5(s"snappt|$fp")}"
    if (SnapshotLog.latestVersion(path).isEmpty)
      SnapshotLog.create(spark, t.filter(col("key") % 2 === 0), path, "key")
    if (SnapshotLog.latestVersion(path).contains(0))
      SnapshotLog.append(spark, t.filter(col("key") % 2 === 1), path, "key")
    if (SnapshotLog.latestVersion(path).contains(1))
      SnapshotLog.compactZOrder(spark, path, "key", "y", slices = 8)
    if (SnapshotLog.latestVersion(path).contains(2)) {
      val dels = t.filter(col("key") % 97 === 13)
        .select(col("key"), col("bal"), col("y"), lit(true).as("_del"))
      SnapshotLog.mergeDv(spark, dels, path, "key", "_del")
    }
    // probes: live (10: %3=1, %97=10), deleted (13: %97=13), absent (3)
    val out = Seq(3L, 10L, 13L).map { p =>
      val (df, scanned, total) = SnapshotLog.readPoint(spark, path, "key", p)
      // point-read RESULT (at most one row by the probe contract)
      val hit = df.select(col("bal")).collect()
      org.apache.spark.sql.Row(p, hit.length.toLong,
        hit.headOption.map(_.getDouble(0)).map(java.lang.Double.valueOf)
          .orNull,
        scanned < total, scanned == 0)
    }
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(new java.util.ArrayList(out.asJava),
      StructType(Seq(
        StructField("probe", LongType, nullable = false),
        StructField("found", LongType, nullable = false),
        StructField("bal", DoubleType, nullable = true),
        StructField("pruned", BooleanType, nullable = false),
        StructField("bloom_excluded", BooleanType, nullable = false))))
      .orderBy(col("probe"))
  }
}
