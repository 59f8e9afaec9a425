package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{CappedSet, Pins}

/** Iterative graph analytics over a deterministic synthetic graph — the
  * same distributed fixed-point shape as [[Routing]]'s Bellman-Ford, but
  * with a value that FLOWS (rank mass) instead of one that MINIMIZES
  * (distance), which exercises the other half of the iterate-join-agg
  * design space: per-round aggregation is a SUM, so floating-point
  * accumulation order matters and must be engineered away (below).
  *
  * The reference's road network is the one true graph in the system
  * (ram-analysis/scripts/osm2osrm.sh builds it; tasks.js:253-283 routes
  * over it); centrality over that network — which intersections carry
  * the traffic — is the canonical downstream analysis.
  *
  * Scale posture: per round, ONE equi-join (ranks.node == edges.src) and
  * ONE (dst) sum aggregation, both partial-agg friendly. The edge table
  * is pre-partitioned on its join key and pinned ONCE, so
  * rounds reuse the materialized partitioning instead of re-shuffling
  * the (at 100 TB, dominant) edge side every iteration; the rank frame is
  * output-sized (one row per node). Superseded rank checkpoints are
  * released each round (see [[graft.functions.Pins]]).
  *
  * FP determinism (why the DuckDB oracle hash-matches bitwise): every
  * number in the computation is a dyadic rational with a short mantissa.
  * Out-degree is EXACTLY 4 by construction (parallel edges and self
  * loops are deliberately kept), so a contribution is rank/4 — an exact
  * power-of-two scaling; damping is 3/4 and teleport 1/4, so the update
  * 0.25 + 0.75·sum costs two more mantissa bits per round. With 6
  * rounds every add is exact, which makes the per-node sum independent
  * of aggregation order — Spark's partial aggregation and DuckDB's
  * single-threaded sum produce the same bits. (A 0.85 damping factor
  * would round on the very first multiply and diverge between engines.)
  */
object Graph {
  val Damping = 0.75 // dyadic: 3/4 (deliberately NOT the textbook 0.85)
  val OutDegree = 4
  val DefaultIters = 6

  /** Deterministic directed graph over the supplier key space 0..V-1:
    * exactly [[OutDegree]] out-edges per node via four affine maps.
    * Unlike [[Routing.roadEdges]] this keeps self loops and parallel
    * edges — constant out-degree is what makes rank/4 exact. */
  def pageEdges(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"))
    val nv = sup.agg((max(col("s_suppkey")) + 1L).as("nv"))
    sup.crossJoin(broadcast(nv))
      .select(col("s_suppkey").as("src"), explode(array(
        (col("s_suppkey") * 7L + 1L) % col("nv"),
        (col("s_suppkey") * 13L + 3L) % col("nv"),
        (col("s_suppkey") * 29L + 5L) % col("nv"),
        (col("s_suppkey") * 31L + 11L) % col("nv"))).as("dst"))
  }

  /** PageRank with teleport 1−d = 1/4: rank'(n) = 1/4 + 3/4 · Σ_{src→n}
    * rank(src)/4, iterated a fixed `iters` rounds from rank = 1.
    * Output: (node, rank), one row per node — nodes nobody links to
    * keep the teleport mass via the left join from the node list. */
  def pagerank(spark: SparkSession, dir: String,
               iters: Int = DefaultIters): DataFrame = {
    val nodes = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("node"))
    // "pr", not "rank": rank is a window-function keyword in the oracle
    pagerankOver(nodes, pageEdges(spark, dir), iters)
      .orderBy(col("node"))
  }

  /** [[pagerank]]'s kernel over ANY (node) spine + (src, dst) edge
    * frame — split out so the adversarial skew probe (HotKeyProbe:
    * one celebrity node with corpus in-degree) can drive the exact
    * per-round join/agg plan the registered operator runs. Returns
    * the unordered (node, pr) frame. */
  private[graft] def pagerankOver(nodes: DataFrame, edges0: DataFrame,
                                  iters: Int): DataFrame = Pins.scope { s =>
    require(iters >= 1)
    // partition the edge side by its join key ONCE; the pin
    // materializes that layout so the per-round join reuses it
    val edges = s.pin(edges0
      .withColumnRenamed("src", "esrc")
      .repartition(col("esrc")))
    var ranks = s.pin(nodes.withColumn("r", lit(1.0)))
    for (_ <- 1 to iters) {
      val inbound = ranks.join(edges, ranks("node") === edges("esrc"))
        .select(edges("dst").as("node"),
          (col("r") / OutDegree).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      val next = nodes.join(inbound, Seq("node"), "left_outer")
        .select(col("node"),
          (lit(1 - Damping) + lit(Damping) * coalesce(col("m"), lit(0.0))).as("r"))
      ranks = s.advance(ranks, s.pin(next))
    }
    ranks.select(col("node"), col("r").as("pr"))
  }

  /** Unrolled DuckDB oracle for [[pagerank]] — fixed-iteration dataflow,
    * so the recursion is spelled as one CTE per round (recursive CTEs
    * cannot aggregate in the recursive term). Kept next to the operator
    * so graph shape and update rule cannot drift apart. */
  def pagerankOracle(iters: Int = DefaultIters): String = {
    val rounds = (1 to iters).map { i =>
      s"""p$i AS (SELECT n.node,
         CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
           * coalesce(s.m, CAST(0.0 AS DOUBLE)) AS r
         FROM n LEFT JOIN (
           SELECT e.dst AS node, sum(p.r / CAST(4.0 AS DOUBLE)) AS m
           FROM e JOIN p${i - 1} p ON p.node = e.src GROUP BY e.dst) s
         USING (node))"""
    }.mkString(",\n")
    s"""WITH v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e AS (
         SELECT s_suppkey AS src, (s_suppkey * 7 + 1) % nv AS dst FROM supplier, v
         UNION ALL
         SELECT s_suppkey, (s_suppkey * 13 + 3) % nv FROM supplier, v
         UNION ALL
         SELECT s_suppkey, (s_suppkey * 29 + 5) % nv FROM supplier, v
         UNION ALL
         SELECT s_suppkey, (s_suppkey * 31 + 11) % nv FROM supplier, v),
       n AS (SELECT s_suppkey AS node FROM supplier),
       p0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS r FROM n),
       $rounds
       SELECT node, r AS pr FROM p$iters ORDER BY node"""
  }

  /** PERSONALIZED PageRank (TrustRank shape) — propagation of trust /
    * quality from a SEED set instead of uniform teleport: the restart
    * mass lands only on seeds (node % 16 == 0 — the "manually vetted"
    * sources), so a node's score measures its link-distance-weighted
    * reachability FROM the trusted set. This is the propagation model
    * data curation uses to extend a small vetted-domain list over a web
    * graph (TrustRank, Gyöngyi et al. 2004): spam/junk far from seeds
    * decays geometrically, well-linked neighborhoods of seeds score
    * high. Same exact-arithmetic engineering as [[pagerank]] (dyadic
    * damping 3/4, rank/4 contributions, seed indicator 0/1, fixed
    * rounds — every add exact, so aggregation order cannot move a bit);
    * unnormalized restart (seed teleport = 1/4 each) keeps the update
    * dyadic. Non-seeds start at 0: mass genuinely FLOWS from seeds. */
  def personalizedPagerank(spark: SparkSession, dir: String,
                           iters: Int = DefaultIters,
                           seedMod: Int = 16): DataFrame = Pins.scope { s =>
    require(iters >= 1)
    val nodes = Tables.supplier(spark, dir)
      .select(col("s_suppkey").as("node"))
      .withColumn("seed", (col("node") % seedMod === 0).cast("double"))
    val edges = s.pin(pageEdges(spark, dir)
      .withColumnRenamed("src", "esrc")
      .repartition(col("esrc")))
    var ranks = s.pin(nodes.withColumn("r", col("seed")))
    for (_ <- 1 to iters) {
      val inbound = ranks.join(edges, ranks("node") === edges("esrc"))
        .select(edges("dst").as("node"), (col("r") / OutDegree).as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
      val next = nodes.join(inbound, Seq("node"), "left_outer")
        .select(col("node"), col("seed"),
          (lit(1 - Damping) * col("seed")
            + lit(Damping) * coalesce(col("m"), lit(0.0))).as("r"))
      ranks = s.advance(ranks, s.pin(next))
    }
    ranks
      .select(col("node"), (col("seed") > 0.5).as("is_seed"),
        col("r").as("ppr"))
      .orderBy(col("node"))
  }

  /** Unrolled DuckDB oracle for [[personalizedPagerank]] — the
    * [[pagerankOracle]] chain with the seed-indicator restart. */
  def personalizedPagerankOracle(iters: Int = DefaultIters,
                                 seedMod: Int = 16): String = {
    val rounds = (1 to iters).map { i =>
      s"""p$i AS (SELECT n.node, n.seed,
         CAST(0.25 AS DOUBLE) * n.seed + CAST(0.75 AS DOUBLE)
           * coalesce(s.m, CAST(0.0 AS DOUBLE)) AS r
         FROM n LEFT JOIN (
           SELECT e.dst AS node, sum(p.r / CAST(4.0 AS DOUBLE)) AS m
           FROM e JOIN p${i - 1} p ON p.node = e.src GROUP BY e.dst) s
         USING (node))"""
    }.mkString(",\n")
    s"""WITH v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e AS (
         SELECT s_suppkey AS src, (s_suppkey * 7 + 1) % nv AS dst FROM supplier, v
         UNION ALL
         SELECT s_suppkey, (s_suppkey * 13 + 3) % nv FROM supplier, v
         UNION ALL
         SELECT s_suppkey, (s_suppkey * 29 + 5) % nv FROM supplier, v
         UNION ALL
         SELECT s_suppkey, (s_suppkey * 31 + 11) % nv FROM supplier, v),
       n AS (SELECT s_suppkey AS node,
         CASE WHEN s_suppkey % $seedMod = 0 THEN CAST(1.0 AS DOUBLE)
           ELSE CAST(0.0 AS DOUBLE) END AS seed FROM supplier),
       p0 AS (SELECT node, seed, seed AS r FROM n),
       $rounds
       SELECT node, seed > CAST(0.5 AS DOUBLE) AS is_seed, r AS ppr
       FROM p$iters ORDER BY node"""
  }

  /** Block size of the deterministic component graph: nodes connect only
    * within their 64-key block, so components are non-trivial (up to 64
    * members, the tail block smaller) and the expected answer is fully
    * determined by the edge scheme — which the recursive-CTE oracle
    * restates from the same closed forms. */
  val CcBlock = 64

  /** Deterministic block-local digraph over the supplier key space: a
    * chain edge x -> x+1 inside the block plus a permutation edge
    * x -> blockBase + (7x+3 mod 64). Both are closed-form integer maps
    * (blockBase = x - x%64 — no integer-division parity trap between
    * engines), so DuckDB rebuilds the identical edge set. */
  def ccEdges(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"))
    val nv = sup.agg((max(col("s_suppkey")) + 1L).as("nv"))
    val base = sup.crossJoin(broadcast(nv))
    val chain = base
      .select(col("s_suppkey").as("src"), (col("s_suppkey") + 1L).as("dst"),
        col("nv"))
      .filter(col("dst") % CcBlock =!= 0 && col("dst") < col("nv"))
    val skip = base
      .select(col("s_suppkey").as("src"),
        (col("s_suppkey") - col("s_suppkey") % CcBlock +
          (col("s_suppkey") * 7L + 3L) % CcBlock).as("dst"),
        col("nv"))
      .filter(col("dst") =!= col("src") && col("dst") < col("nv"))
    chain.union(skip).select(col("src"), col("dst"))
  }

  /** Most distinct undirected edges a component closure runs on the
    * driver ([[minLabelComponents]] below it, [[minLabels]] always).
    * Peak driver heap it allows, per edge: the bounded `take` holds a
    * collected block (~20 B), an UnsafeRow copy (~80 B) and a (Long,
    * Long) tuple (~40 B); [[minLabels]] holds the two endpoint arrays
    * (16 B) and, for at most two endpoints per edge, their sorted copy,
    * the distinct ids, labels and int parents (56 B); the labels sent
    * back are at most one (id, label) tuple per edge (~40 B). About
    * 250 B per edge, so 2^20 edges peak near 260 MB. */
  val DriverEdgeMax: Int = 1 << 20

  /** Min-label union-find over undirected edges `src(i)`--`dst(i)`: the
    * sorted distinct endpoint ids and, index for index, the min id
    * reachable from each. Roots are always the smaller index of a merged
    * pair, and ids are sorted, so every root is its component's min id.
    * Asserts the [[DriverEdgeMax]] bound. */
  private[graft] def minLabels(src: Array[Long],
                               dst: Array[Long]): (Array[Long], Array[Long]) = {
    require(src.length == dst.length && src.length <= DriverEdgeMax,
      s"${src.length} edges exceed the driver union-find bound $DriverEdgeMax")
    val all = src ++ dst
    java.util.Arrays.sort(all)
    var n = 0
    for (i <- all.indices if n == 0 || all(i) != all(n - 1)) {
      all(n) = all(i)
      n += 1
    }
    val ids = java.util.Arrays.copyOf(all, n)
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) {
        parent(r) = parent(parent(r))
        r = parent(r)
      }
      r
    }
    for (e <- src.indices) {
      val a = find(java.util.Arrays.binarySearch(ids, src(e)))
      val b = find(java.util.Arrays.binarySearch(ids, dst(e)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    (ids, Array.tabulate(n)(i => ids(find(i))))
  }

  /** Connected components by min label: `edges` (src, dst) taken as
    * undirected; every id in `nodes` gets a row (id, label), label = the
    * min id reachable in the undirected graph, so an id in no edge is
    * its own singleton. Ids are longs. Precondition: every edge endpoint
    * is in `nodes` (an endpoint outside it gets no row).
    *
    * The distinct undirected edge set is pinned once and at most
    * [[DriverEdgeMax]] + 1 of it is taken to the driver. Within the
    * bound the closure is [[minLabels]] — no per-round job — and the
    * labels of merged endpoints return through `parallelize`, meeting
    * `nodes` in a left join (`nodes` is never collected; the rest keep
    * their own id). Above the bound the pointer-jumping loop
    * ([[jumpLabels]]) runs over the same pin, within `maxIter` rounds. */
  def minLabelComponents(edges: DataFrame, nodes: DataFrame,
                         maxIter: Int = 24): DataFrame = Pins.scope { s =>
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.toDF("src", "dst")
    // lazy: the bounded take is the pin's first action, and the pin then
    // computes only the partitions the take did not read
    val und = s.pin(e.select(least(col("src"), col("dst")).as("u"),
      greatest(col("src"), col("dst")).as("w")).distinct(), eager = false)
    val head = und.as[(Long, Long)].take(DriverEdgeMax + 1)
    if (head.length > DriverEdgeMax) jumpLabels(und, nodes, maxIter)
    else {
      val (ids, labels) = minLabels(head.map(_._1), head.map(_._2))
      val merged = ids.indices.iterator.filter(i => labels(i) != ids(i))
        .map(i => (ids(i), labels(i))).toArray
      val moved = spark.sparkContext.parallelize(merged.toSeq).toDF("id", "label")
      nodes.toDF("id").join(moved, Seq("id"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    }
  }

  /** The distributed closure behind [[minLabelComponents]] above
    * [[DriverEdgeMax]]: min-label propagation WITH pointer jumping. Each
    * round takes the neighbor minimum (information moves one hop) and
    * then hops through the label itself twice (l'(x) = min(m(x),
    * m(m(x))), valid because labels are always node ids), so the reach
    * squares per jump — O(log diameter) rounds instead of the
    * O(diameter) a plain hash-min loop needs. Each round is one
    * materializing job whose changed-label count rides in the same
    * action; superseded label pins are released; non-convergence THROWS
    * (an under-merged component table is wrong, not slow).
    *
    * Scale posture: per round, the edges x labels equi-join (partial-
    * agg'd min by src) and two label-sized self-joins for the jumps.
    * Nothing driver-side but a scalar count.
    *
    * Iteration budget: convergence is observed by a round whose
    * changed-label count is zero, so `maxIter` must cover
    * ROUNDS-TO-FIXPOINT + 1 — the last productive round cannot know it
    * was last. [[minLabelComponents]]' default of 24 covers any
    * component diameter up to ~2^22; callers with a known diameter
    * bound derive their own (see [[CcMaxIter]]). Same (id, label)
    * contract as [[minLabelComponents]]; edges may repeat or loop. */
  private[graft] def jumpLabels(edges: DataFrame, nodes: DataFrame,
                                maxIter: Int): DataFrame = Pins.scope { s =>
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.toDF("a", "b")
    val sym = e.select(col("a").as("esrc"), col("b").as("dst"))
      .union(e.select(col("b"), col("a")))
    var labels = s.pin(nodes.toDF("id")
      .select(col("id"), col("id").as("label")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // one scope per round: the round-local pin m is released when the
      // round's count has materialized `next`
      val (next, nChanged) = Pins.scope { r =>
      val nb = sym.join(labels, sym("dst") === labels("id"))
        .groupBy(col("esrc")).agg(min(col("label")).as("nl"))
      // m feeds BOTH sides of the jump join; the lazy checkpoint makes
      // the edge join compute once per round, not once per branch
      val m = r.pin(labels.join(nb, labels("id") === nb("esrc"), "left")
        .select(col("id"), col("label").as("plabel"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("mlabel")),
        eager = false)
      val jump = m.select(col("id").as("jid"), col("mlabel").as("jlabel"))
      val j1 = m.join(jump, m("mlabel") === jump("jid"), "left")
        .select(col("id"), col("plabel"),
          least(col("mlabel"), coalesce(col("jlabel"), col("mlabel")))
            .as("l1"))
      // the second jump re-derives j1 from the pinned m with label-sized
      // joins only: a third pin would cost one more query planning per
      // round, which dominates a round at small scale
      val jump2 = j1.select(col("id").as("jid2"), col("l1").as("jlabel2"))
      val next = r.pin(j1.join(jump2, j1("l1") === jump2("jid2"), "left")
        .select(col("id"),
          least(col("l1"), coalesce(col("jlabel2"), col("l1"))).as("label"),
          col("plabel"))
        .withColumn("_chg", (col("label") < col("plabel")).cast("long"))
        .drop("plabel"), eager = false)
      val nChanged = next.agg(coalesce(sum(col("_chg")), lit(0L)))
        .as[Long].head()
      (next, nChanged)
      }
      converged = nChanged == 0L
      labels = s.advance(labels, next.drop("_chg"))
      i += 1
    }
    require(converged,
      s"component propagation did not converge in $maxIter rounds — " +
        "labels are under-merged; raise maxIter")
    labels
  }

  /** Iteration budget for [[components]], DERIVED from the edge scheme
    * instead of hard-coded: ccEdges components live inside one CcBlock
    * key block, so diameter < CcBlock, fixpoint arrives within
    * ceil(log2(CcBlock)) + 1 jump rounds, and the zero-change
    * observation round adds one more; +2 slack absorbs min-label tie
    * patterns. A larger/higher-diameter future edge scheme changes this
    * with CcBlock rather than failing the verify run at a stale 16. */
  val CcMaxIter: Int =
    (32 - Integer.numberOfLeadingZeros(CcBlock - 1)) + 1 + 1 + 2

  /** Connected components of [[ccEdges]] over the supplier keys through
    * [[minLabelComponents]]. Output: (node, component, component_size),
    * component = min node id reachable in the undirected graph. */
  def components(spark: SparkSession, dir: String): DataFrame = Pins.scope { s =>
    val labels = minLabelComponents(
      ccEdges(spark, dir),
      Tables.supplier(spark, dir).select(col("s_suppkey")),
      CcMaxIter)
    s.pin(labels
      .withColumn("component_size", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("label"))))
      .select(col("id").as("node"), col("label").as("component"),
        col("component_size"))
      .orderBy(col("node")))
  }

  /** Recursive-CTE oracle for [[components]]: rebuild the closed-form
    * edge set, symmetrize, enumerate reachability (UNION dedups, so the
    * walk terminates), take the min reachable id per node. Restates the
    * SEMANTICS (undirected reachability), not the propagation schedule. */
  val componentsOracle: String =
    """WITH RECURSIVE
       v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e0 AS (
         SELECT s_suppkey AS src, s_suppkey + 1 AS dst FROM supplier, v
         WHERE (s_suppkey + 1) % 64 <> 0 AND s_suppkey + 1 < nv
         UNION
         SELECT s_suppkey,
           s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
         FROM supplier, v
         WHERE s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
             <> s_suppkey
           AND s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64 < nv),
       e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       reach AS (
         SELECT s_suppkey AS node, s_suppkey AS m FROM supplier
         UNION
         SELECT r.node, e.dst FROM reach r JOIN e ON e.src = r.m),
       comp AS (SELECT node, min(m) AS component FROM reach GROUP BY node)
       SELECT node, component,
         count(*) OVER (PARTITION BY component) AS component_size
       FROM comp ORDER BY node"""

  /** COMMUNITY detection via frequency-based LABEL PROPAGATION — the
    * complement of [[components]]: min-label propagation answers "which
    * nodes are connected AT ALL", LPA answers "which nodes are densely
    * connected to each other" (a single connected component splits into
    * its dense blocks). Semi-synchronous LPA with a deterministic
    * schedule: every node starts labeled by its own id; each round every
    * node adopts the most frequent label among its neighbors plus its
    * own current label (one self-vote — the damping that stops 2-cycles),
    * ties broken toward the SMALLEST label. A fixed `rounds` budget
    * keeps the trajectory finite and oracle-unrollable (classic async
    * LPA is schedule-dependent; this variant is a pure function of the
    * graph).
    *
    * Scale posture: per round ONE equi-join (labels to the symmetrized
    * edge list, partitioned+checkpointed once) + one (node, label)
    * count aggregation + one max_by argmax — all partial-agg friendly,
    * votes never sort globally; label frames are node-sized, pinned
    * per round with the superseded pin released. Vote counts are exact integers, so there is no FP
    * anywhere in the trajectory. */
  def labelProp(spark: SparkSession, dir: String,
                rounds: Int = 3): DataFrame = Pins.scope { s =>
    val nodes = Tables.supplier(spark, dir).select(col("s_suppkey").as("id"))
    val labels = labelPropOver(ccEdges(spark, dir), nodes, rounds)
    s.pin(labels
      .withColumn("community_size", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("label"))))
      .select(col("id").as("node"), col("label").as("community"),
        col("community_size"))
      .orderBy(col("node")))
  }

  /** [[labelProp]]'s kernel over ANY undirected edge/node frame —
    * (src, dst) pairs in either orientation plus an `id` node spine —
    * shared with the semantic-community composition over the mutual
    * k-NN graph ([[Similarity.semanticCommunities]]). Returns the
    * final pinned (id, label) frame, handed over to the caller. */
  private[graft] def labelPropOver(edges0: DataFrame, nodes: DataFrame,
                                   rounds: Int): DataFrame = Pins.scope { s =>
    require(rounds >= 1)
    // NOTE (r21): a one-lazy-plan variant (self-vote as self-loop
    // edges, single materializing action for all rounds) measured
    // SLOWER on the heavy consumer (graph_modularity 2.2 -> 3.9 s
    // warm) — the compounded 3-round plan loses the per-round stats
    // reset and re-derives the trajectory per consumer reference — so
    // the per-round eager checkpoint form stays.
    val edges = s.pin(edges0.select(col("src"), col("dst"))
      .union(edges0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .repartition(col("dst")))
    var labels = s.pin(nodes.withColumn("label", col("id")))
    for (_ <- 1 to rounds) {
      val votes = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("label"))
        .unionByName(labels)
        .groupBy(col("id"), col("label"))
        .agg(count(lit(1)).as("c"))
      val next = s.pin(votes.groupBy(col("id"))
        .agg(max_by(col("label"),
          struct(col("c"), (-col("label")).as("t"))).as("label")))
      labels = s.advance(labels, next)
    }
    labels
  }

  /** Unrolled-CTE oracle for [[labelProp]]: the same deterministic
    * vote-count/argmax trajectory, one CTE pair per round (integer
    * counts, so nothing can drift between engines). */
  def labelPropOracle(rounds: Int = 3): String = {
    val roundsSql = (1 to rounds).map { t =>
      s"""v$t AS (SELECT id, label, count(*) AS c FROM (
           SELECT e.src AS id, l.label FROM e
           JOIN l${t - 1} l ON l.id = e.dst
           UNION ALL SELECT id, label FROM l${t - 1}) u
         GROUP BY id, label),
       l$t AS (SELECT id, label FROM (
           SELECT id, label, row_number() OVER (PARTITION BY id
             ORDER BY c DESC, label) AS rn FROM v$t) w WHERE rn = 1)"""
    }.mkString(",\n       ")
    s"""WITH v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e0 AS (
         SELECT s_suppkey AS src, s_suppkey + 1 AS dst FROM supplier, v
         WHERE (s_suppkey + 1) % 64 <> 0 AND s_suppkey + 1 < nv
         UNION
         SELECT s_suppkey,
           s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
         FROM supplier, v
         WHERE s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
             <> s_suppkey
           AND s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64 < nv),
       e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       l0 AS (SELECT s_suppkey AS id, s_suppkey AS label FROM supplier),
       $roundsSql
       SELECT id AS node, label AS community,
         count(*) OVER (PARTITION BY label) AS community_size
       FROM l$rounds ORDER BY node"""
  }

  /** MODULARITY of the [[labelProp]] partition — the quality score that
    * turns "communities were found" into "communities are real"
    * (Newman 2004): Q = Σ_c [ e_c/m − (d_c/2m)² ] over the undirected
    * graph, reported per community so a single bad merge is visible
    * (its contribution goes negative) instead of drowning in the
    * global sum. The labels come from the SAME [[labelPropOver]]
    * trajectory graph_labelprop registers, so the score always grades
    * the partition the engine actually ships.
    *
    * Determinism: e_c, d_c, m are exact integers; each contribution is
    * the integer ratio (4·m·e_c − d_c²)/(4·m²) evaluated in one double
    * division and floor-rounded at 1e-6 — no FP accumulates anywhere.
    * Scale shape: two node-keyed equi-joins to label the edge
    * endpoints, degree/size/internal-edge rollups all partial-agg
    * friendly, the edge total a one-row broadcast scalar; nothing
    * sorts or broadcasts a corpus-sized side. */
  def modularity(spark: SparkSession, dir: String,
                 rounds: Int = 3): DataFrame = Pins.scope { s =>
    val nodes = Tables.supplier(spark, dir).select(col("s_suppkey").as("id"))
    val edges = ccEdges(spark, dir)
    val labels = labelPropOver(edges, nodes, rounds)
    // ONE labeled-edge frame feeds every edge-derived quantity: m is
    // its count, e_in its intra-community count, and d_tot its
    // per-community ENDPOINT count (each undirected edge contributes
    // exactly 1 to each endpoint's degree, so counting labeled
    // endpoints per community is the same integer as the old
    // deg-agg + labels join + sum — that whole degree pipeline and
    // the triple re-derivation of `und` drop out of the plan; the r21
    // profile measured this key's wall as ~40 AQE stage-jobs over a
    // node-sized graph).
    val lu = labels.toDF("u", "lu")
    val lw = labels.toDF("w", "lw")
    // PRECONDITION (r21 ADVICE): edge endpoints ⊆ nodes. m below counts
    // the LABELED edge frame (inner-joined to labels on BOTH
    // endpoints), equal to the raw undirected edge count only because
    // every ccEdges endpoint lies in the contiguous supplier key range
    // labelPropOver labels. An edge source with endpoints outside the
    // node frame would silently shrink m (and d_tot) here instead of
    // failing — GraphSpec's integer recompute derives m from the RAW
    // undirected edge set and asserts every q_frac against it, so a
    // lab/und divergence fails the suite, not just the oracle.
    val lab = s.pin(edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("w"))
      .filter(col("u") =!= col("w")).distinct()
      .join(lu, Seq("u")).join(lw, Seq("w"))
      .select(col("lu"), col("lw")))
    val mEdges = lab.agg(count(lit(1)).as("m"))
    val ein = lab.filter(col("lu") === col("lw"))
      .groupBy(col("lu").as("community")).agg(count(lit(1)).as("e_in"))
    val dtot = lab
      .select(explode(array(col("lu"), col("lw"))).as("community"))
      .groupBy(col("community")).agg(count(lit(1)).as("d_tot"))
    val sizes = labels.groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    s.pin(sizes.join(dtot, Seq("community"), "left")
      .join(ein, Seq("community"), "left")
      .crossJoin(broadcast(mEdges))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_in"), lit(0L)).as("e_in"),
        coalesce(col("d_tot"), lit(0L)).as("d_tot"), col("m"))
      .withColumn("q_frac",
        floor((lit(4L) * col("m") * col("e_in")
            - col("d_tot") * col("d_tot")).cast("double")
          / (lit(4L) * col("m") * col("m")).cast("double")
          * 1000000.0 + 0.5) / 1000000.0)
      .select(col("community"), col("n_nodes"), col("e_in"),
        col("d_tot"), col("q_frac"))
      .orderBy(col("community")))
  }

  /** Unrolled oracle for [[modularity]]: [[labelPropOracle]]'s CTE
    * chain plus the integer-exact per-community contribution. */
  def modularityOracle(rounds: Int = 3): String = {
    val roundsSql = (1 to rounds).map { t =>
      s"""v$t AS (SELECT id, label, count(*) AS c FROM (
           SELECT e.src AS id, l.label FROM e
           JOIN l${t - 1} l ON l.id = e.dst
           UNION ALL SELECT id, label FROM l${t - 1}) u
         GROUP BY id, label),
       l$t AS (SELECT id, label FROM (
           SELECT id, label, row_number() OVER (PARTITION BY id
             ORDER BY c DESC, label) AS rn FROM v$t) w WHERE rn = 1)"""
    }.mkString(",\n       ")
    s"""WITH v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e0 AS (
         SELECT s_suppkey AS src, s_suppkey + 1 AS dst FROM supplier, v
         WHERE (s_suppkey + 1) % 64 <> 0 AND s_suppkey + 1 < nv
         UNION
         SELECT s_suppkey,
           s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
         FROM supplier, v
         WHERE s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
             <> s_suppkey
           AND s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64 < nv),
       e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       l0 AS (SELECT s_suppkey AS id, s_suppkey AS label FROM supplier),
       $roundsSql,
       und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS w
         FROM e0 WHERE src <> dst),
       m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT u AS id FROM und UNION ALL SELECT w AS id FROM und) x
         GROUP BY id),
       ein AS (SELECT l1.label AS community,
           CAST(count(*) AS BIGINT) AS e_in
         FROM und JOIN l$rounds l1 ON l1.id = und.u
         JOIN l$rounds l2 ON l2.id = und.w
         WHERE l1.label = l2.label GROUP BY l1.label),
       dt AS (SELECT label AS community, CAST(sum(deg) AS BIGINT) AS d_tot
         FROM deg JOIN l$rounds lr ON lr.id = deg.id GROUP BY label),
       sz AS (SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
         FROM l$rounds GROUP BY label)
       SELECT sz.community, n_nodes,
         coalesce(e_in, CAST(0 AS BIGINT)) AS e_in,
         coalesce(d_tot, CAST(0 AS BIGINT)) AS d_tot,
         floor(CAST(4 * m * coalesce(e_in, CAST(0 AS BIGINT))
             - coalesce(d_tot, CAST(0 AS BIGINT))
               * coalesce(d_tot, CAST(0 AS BIGINT)) AS DOUBLE)
           / CAST(4 * m * m AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0
           AS q_frac
       FROM sz LEFT JOIN dt USING (community)
         LEFT JOIN ein USING (community), m
       ORDER BY sz.community"""
  }

  /** Log2-binned DEGREE DISTRIBUTION of the undirected [[ccEdges]]
    * graph — the first diagnostic anyone runs on a new graph (is it
    * power-law? is there a celebrity node that will wreck the joins?),
    * and the input to [[Warehouse.q51SkewReport]]-style salting
    * decisions on edge-keyed work. Bins are integer-EXACT: bin =
    * bit-length(degree) − 1 (the binary-string length, not FP log2 —
    * libm log2 at a power of two is not portable), so the histogram
    * can never disagree across engines. Scale shape: degrees from one
    * node-keyed partial agg; the rollup is bin-cardinality-sized
    * (≤ 64 rows whatever the graph). */
  def degreeDist(spark: SparkSession, dir: String): DataFrame = {
    val und = ccEdges(spark, dir)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("w"))
      .filter(col("u") =!= col("w")).distinct()
    und.select(col("u").as("id")).union(und.select(col("w").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
      .withColumn("bin_id", (length(bin(col("deg"))) - 1).cast("long"))
      .groupBy(col("bin_id"))
      .agg(count(lit(1)).as("n_nodes"), min(col("deg")).as("min_deg"),
        max(col("deg")).as("max_deg"), sum(col("deg")).as("sum_deg"))
      .orderBy(col("bin_id"))
  }

  /** DuckDB restatement of [[degreeDist]] over the same closed-form
    * edge set. */
  def degreeDistOracle(): String =
    """WITH v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e0 AS (
         SELECT s_suppkey AS src, s_suppkey + 1 AS dst FROM supplier, v
         WHERE (s_suppkey + 1) % 64 <> 0 AND s_suppkey + 1 < nv
         UNION
         SELECT s_suppkey,
           s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
         FROM supplier, v
         WHERE s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
             <> s_suppkey
           AND s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64 < nv),
       und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst)
           AS w FROM e0 WHERE src <> dst),
       deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
           SELECT u AS id FROM und UNION ALL SELECT w AS id FROM und) x
         GROUP BY id)
       SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS bin_id,
         CAST(count(*) AS BIGINT) AS n_nodes,
         CAST(min(deg) AS BIGINT) AS min_deg,
         CAST(max(deg) AS BIGINT) AS max_deg,
         CAST(sum(deg) AS BIGINT) AS sum_deg
       FROM deg GROUP BY length(bin(deg)) - 1 ORDER BY bin_id"""

  /** Per-node triangle count over the undirected [[ccEdges]] graph via
    * the DEGREE-ORDERED orientation — the standard skew bound for
    * distributed triangle enumeration: each undirected edge is kept
    * once, oriented from its lower-(degree, id) endpoint, so every
    * triangle has exactly one pivot with two out-edges and per-node
    * out-degree is O(sqrt m) on ANY graph (a celebrity node's wedges
    * land on its neighbors' out-lists, never its own). The wedge
    * self-join therefore has bounded fan-out per key; the closing-edge
    * probe is an equi-join on the canonically-oriented endpoint pair;
    * nothing in the plan depends on a degree distribution staying
    * benign. Counting at all three corners attributes each triangle
    * once per member node; nodes in no triangle report 0.
    *
    * The oracle restates SEMANTICS, not the orientation: id-canonical
    * x < y < z enumeration over the same closed-form edge set counts
    * the identical triangles. */
  /** Canonical undirected triangle-graph edge set shared by
    * [[triangles]] and [[kcore]]: ccEdges plus a block-local chord
    * x -> x+2 (the chain+permutation scheme alone is triangle-free:
    * 6x = -1 mod 64 has no solution; the chord closes every in-block
    * (x, x+1, x+2) run). Closed-form, so oracles rebuild the identical
    * edge set. One row per unordered pair (u < w). */
  private[graft] def triEdges(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"))
    val nv = sup.agg((max(col("s_suppkey")) + 1L).as("nv"))
    val chord = sup.crossJoin(broadcast(nv))
      .select(col("s_suppkey").as("src"), (col("s_suppkey") + 2L).as("dst"),
        col("nv"))
      .filter(col("dst") % CcBlock =!= 0 && col("dst") % CcBlock =!= 1 &&
        col("dst") < col("nv"))
      .select(col("src"), col("dst"))
    ccEdges(spark, dir).union(chord)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("w"))
      .filter(col("u") =!= col("w")).distinct()
  }

  def triangles(spark: SparkSession, dir: String): DataFrame = Pins.scope { s =>
    // pin the edge list (edge-sized, the kcore/jaccardLinks bound):
    // und is referenced three times and triEdges is a multi-branch
    // union — unpinned, the closed-form edge set re-derives per
    // reference
    val und = s.pin(triEdges(spark, dir))
    val deg = und.select(col("u").as("node"))
      .union(und.select(col("w").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // edge-x-degree and the wedge/closing joins below are large-large
    // equi-joins at scale; SHUFFLE_HASH skips the sort a default
    // sort-merge plan would pay on every shuffled row
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("deg").as("du"))
        .hint("SHUFFLE_HASH"), Seq("u"))
      .join(deg.select(col("node").as("w"), col("deg").as("dw"))
        .hint("SHUFFLE_HASH"), Seq("w"))
    // orient low-(deg, id) -> high-(deg, id); carry the head's rank so
    // wedge endpoints can be canonically re-ordered without a re-join
    val lowIsU = (col("du") < col("dw")) ||
      (col("du") === col("dw") && col("u") < col("w"))
    // pinned: oriented feeds BOTH wedge sides and the closing join —
    // three references that would each re-run the degree joins
    val oriented = s.pin(withDeg.select(
      when(lowIsU, col("u")).otherwise(col("w")).as("osrc"),
      when(lowIsU, col("w")).otherwise(col("u")).as("odst"),
      when(lowIsU, col("dw")).otherwise(col("du")).as("ddst")))
    val o1 = oriented.select(col("osrc"), col("odst").as("d1"), col("ddst").as("g1"))
    val o2 = oriented.select(col("osrc"), col("odst").as("d2"), col("ddst").as("g2"))
    val wedges = o1.join(o2.hint("SHUFFLE_HASH"), Seq("osrc"))
      .filter(col("d1") < col("d2"))
      .select(col("osrc").as("pivot"),
        when(col("g1") < col("g2") ||
          (col("g1") === col("g2") && col("d1") < col("d2")), col("d1"))
          .otherwise(col("d2")).as("clo"),
        when(col("g1") < col("g2") ||
          (col("g1") === col("g2") && col("d1") < col("d2")), col("d2"))
          .otherwise(col("d1")).as("chi"))
    val tri = wedges.join(
      oriented.select(col("osrc").as("clo"), col("odst").as("chi"))
        .hint("SHUFFLE_HASH"),
      Seq("clo", "chi"))
    val corners = tri.select(col("pivot").as("node"))
      .union(tri.select(col("clo").as("node")))
      .union(tri.select(col("chi").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n"))
    s.pin(Tables.supplier(spark, dir).select(col("s_suppkey").as("node"))
      .join(corners.hint("SHUFFLE_HASH"), Seq("node"), "left")
      .select(col("node"), coalesce(col("n"), lit(0L)).as("n_tri"))
      .orderBy(col("node")))
  }

  /** k-core decomposition at fixed k over the triangle graph
    * ([[triEdges]]): iteratively peel nodes whose degree in the
    * REMAINING subgraph is < k until fixpoint — the standard dense-
    * subgraph filter (spam rings, social cores, protein complexes; for
    * a data pipeline, the "remove weakly-connected noise" cut before a
    * community pass). Returns every node with an in_core verdict and
    * the member's within-core degree.
    *
    * Scale posture: the edge list is checkpointed once and each round
    * is two shuffle-hash joins (edges x alive, alive is the shrinking
    * side) plus one partial-agg degree count — nothing driver-side but
    * the per-round cardinality scalar, which the convergence test
    * needs anyway (alive only shrinks, so equal counts == equal sets;
    * no set-compare job). Rounds are the peel avalanche's own depth;
    * the loop THROWS past maxIter (an under-peeled core is wrong, not
    * slow), and every round boundary resets propagated stats and
    * releases the superseded checkpoint ([[graft.functions.Pins]]). */
  def kcore(spark: SparkSession, dir: String, k: Int = 4,
            maxIter: Int = 12): DataFrame = Pins.scope { s =>
    require(k >= 1 && maxIter >= 1)
    val und = s.pin(triEdges(spark, dir))
    var alive = s.pin(und.select(col("u").as("node"))
      .union(und.select(col("w").as("node"))).distinct())
    var aliveN = alive.count()
    var coreDeg: DataFrame = null // (node, deg) of the current alive set
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val e = und
        .join(alive.select(col("node").as("u")).hint("shuffle_hash"), Seq("u"))
        .join(alive.select(col("node").as("w")).hint("shuffle_hash"), Seq("w"))
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("w").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("core_deg"))
      val next = s.pin(deg.filter(col("core_deg") >= k))
      val nextN = next.count()
      alive = s.advance(alive, next)
      converged = nextN == aliveN
      aliveN = nextN
      coreDeg = alive
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"k-core did not reach fixpoint in $maxIter rounds")
    s.pin(Tables.supplier(spark, dir).select(col("s_suppkey").as("node"))
      .join(coreDeg.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"), col("core_deg").isNotNull.as("in_core"),
        col("core_deg"))
      .orderBy(col("node")))
  }

  /** Unrolled peeling oracle for [[kcore]]: `rounds` fixed peel steps
    * (peeling is monotone, so rounds past the fixpoint are no-ops —
    * the unroll count only needs to COVER the avalanche depth, which
    * the Spark side's convergence throw bounds at maxIter — the
    * default matches kcore's maxIter so the two can never diverge). */
  def kcoreOracle(k: Int = 4, rounds: Int = 12): String = {
    val prefix =
      """WITH v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e0 AS (
         SELECT s_suppkey AS src, s_suppkey + 1 AS dst FROM supplier, v
         WHERE (s_suppkey + 1) % 64 <> 0 AND s_suppkey + 1 < nv
         UNION
         SELECT s_suppkey, s_suppkey + 2 FROM supplier, v
         WHERE (s_suppkey + 2) % 64 <> 0 AND (s_suppkey + 2) % 64 <> 1
           AND s_suppkey + 2 < nv
         UNION
         SELECT s_suppkey,
           s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
         FROM supplier, v
         WHERE s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
             <> s_suppkey
           AND s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64 < nv),
       eu AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS w
         FROM e0 WHERE src <> dst),
       a0 AS (SELECT u AS node FROM eu UNION SELECT w FROM eu)"""
    // MATERIALIZED: each round references the previous twice, so
    // default CTE inlining would expand the chain 2^rounds times
    // (observed as a file-handle explosion before it even runs)
    val steps = (1 to rounds).map { i =>
      s""",
       e$i AS MATERIALIZED (SELECT u, w FROM eu
         JOIN a${i - 1} x ON eu.u = x.node
         JOIN a${i - 1} y ON eu.w = y.node),
       a$i AS MATERIALIZED (SELECT node, count(*) AS c FROM
         (SELECT u AS node FROM e$i UNION ALL SELECT w FROM e$i) t
         GROUP BY node HAVING count(*) >= $k)"""
    }.mkString
    prefix + steps +
      s"""
       SELECT s_suppkey AS node, a$rounds.node IS NOT NULL AS in_core,
         CAST(a$rounds.c AS BIGINT) AS core_deg
       FROM supplier LEFT JOIN a$rounds ON a$rounds.node = s_suppkey
       ORDER BY node"""
  }

  /** Recursive-free oracle for [[triangles]]: canonical x < y < z
    * enumeration over the closed-form edge scheme. */
  val trianglesOracle: String =
    """WITH v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e0 AS (
         SELECT s_suppkey AS src, s_suppkey + 1 AS dst FROM supplier, v
         WHERE (s_suppkey + 1) % 64 <> 0 AND s_suppkey + 1 < nv
         UNION
         SELECT s_suppkey, s_suppkey + 2 FROM supplier, v
         WHERE (s_suppkey + 2) % 64 <> 0 AND (s_suppkey + 2) % 64 <> 1
           AND s_suppkey + 2 < nv
         UNION
         SELECT s_suppkey,
           s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
         FROM supplier, v
         WHERE s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
             <> s_suppkey
           AND s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64 < nv),
       eu AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS w
         FROM e0 WHERE src <> dst),
       t AS (SELECT a.u AS x, a.w AS y, b.w AS z
         FROM eu a JOIN eu b ON b.u = a.w
           JOIN eu c ON c.u = a.u AND c.w = b.w),
       corners AS (SELECT x AS node FROM t
         UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t),
       pc AS (SELECT node, count(*) AS n FROM corners GROUP BY node)
       SELECT s_suppkey AS node, CAST(coalesce(pc.n, 0) AS BIGINT) AS n_tri
       FROM supplier LEFT JOIN pc ON pc.node = s_suppkey
       ORDER BY node"""

  /** Jaccard-coefficient LINK PREDICTION over [[triEdges]]: score every
    * NON-adjacent node pair that shares at least one neighbor by
    * |N(a) ∩ N(b)| / |N(a) ∪ N(b)| and keep the top candidates — the
    * classic "which edge appears next" heuristic (friend suggestion,
    * co-occurrence completion, knowledge-graph densification).
    *
    * Scale posture: common-neighbor pairs expand map-side from each
    * center's SORTED adjacency list (the q34 market-basket idiom — an
    * i<j pair walk, never an adjacency self-join shuffle); per-center
    * fan-out is deg^2, bounded on this graph's closed-form degrees —
    * at production scale the same sqrt-degree orientation as
    * [[triangles]] or a hub cap bounds it (documented, not needed
    * here). Counts fold in one partial agg; existing edges leave via a
    * LEFT_ANTI join; degrees attach through two SHUFFLE_HASH joins.
    * Top-N is a k-sized ordered limit on the ROUNDED score with (a, b)
    * tie-break, so the cut is deterministic both engines. */
  def jaccardLinks(spark: SparkSession, dir: String,
                   topN: Int = 20): DataFrame = Pins.scope { s =>
    // pin the edge list once (edge-sized): und is referenced THREE
    // times (both adj orientations + the non-edge anti-join) and
    // triEdges is itself a multi-branch union, so unpinned the plan
    // re-derived the closed-form edge set per reference — 84 parquet
    // scans in the r22 before-plan
    val und = s.pin(triEdges(spark, dir))
    val adj = und.select(col("u").as("node"), col("w").as("nbr"))
      .unionByName(und.select(col("w").as("node"), col("u").as("nbr")))
    val deg = adj.groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val pairs = adj.groupBy(col("node"))
      .agg(sort_array(collect_list(col("nbr"))).as("ns"))
      .filter(size(col("ns")) >= 2)
      .select(CappedSet.explode_pairs(col("ns"))((x, y) =>
        struct(x.as("a"), y.as("b"))).as("pr"))
      .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
      .agg(count(lit(1)).as("common"))
    s.pin(pairs
      .join(und.select(col("u").as("a"), col("w").as("b")), Seq("a", "b"),
        "left_anti")
      .join(deg.select(col("node").as("a"), col("deg").as("da"))
        .hint("SHUFFLE_HASH"), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db"))
        .hint("SHUFFLE_HASH"), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        (floor(col("common") / (col("da") + col("db") - col("common"))
          * 10000.0 + 0.5) / 10000.0).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(topN))
  }

  /** DuckDB restatement of [[jaccardLinks]] — the wedge enumeration as
    * an adjacency self-join (same (a, b, center) triples the sorted
    * pair walk emits). */
  def jaccardOracle(topN: Int = 20): String =
    s"""WITH v AS (SELECT max(s_suppkey) + 1 AS nv FROM supplier),
       e0 AS (
         SELECT s_suppkey AS src, s_suppkey + 1 AS dst FROM supplier, v
         WHERE (s_suppkey + 1) % 64 <> 0 AND s_suppkey + 1 < nv
         UNION
         SELECT s_suppkey, s_suppkey + 2 FROM supplier, v
         WHERE (s_suppkey + 2) % 64 <> 0 AND (s_suppkey + 2) % 64 <> 1
           AND s_suppkey + 2 < nv
         UNION
         SELECT s_suppkey,
           s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
         FROM supplier, v
         WHERE s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64
             <> s_suppkey
           AND s_suppkey - s_suppkey % 64 + (s_suppkey * 7 + 3) % 64 < nv),
       eu AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS w
         FROM e0 WHERE src <> dst),
       adj AS (SELECT u AS node, w AS nbr FROM eu
         UNION ALL SELECT w, u FROM eu),
       deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY 1),
       p AS (SELECT a1.nbr AS a, a2.nbr AS b
         FROM adj a1 JOIN adj a2
           ON a1.node = a2.node AND a1.nbr < a2.nbr),
       c AS (SELECT a, b, count(*) AS common FROM p GROUP BY 1, 2),
       ne AS (SELECT c.a, c.b, c.common FROM c
         WHERE NOT EXISTS (SELECT 1 FROM eu
           WHERE eu.u = c.a AND eu.w = c.b))
       SELECT ne.a, ne.b, CAST(common AS BIGINT) AS common,
         floor(common / (da.deg + db.deg - common) * 10000.0 + 0.5)
           / 10000.0 AS jaccard
       FROM ne JOIN deg da ON ne.a = da.node
         JOIN deg db ON ne.b = db.node
       ORDER BY jaccard DESC, ne.a, ne.b LIMIT $topN"""
}
