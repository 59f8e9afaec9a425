package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite {
  import TestSession._

  test("ppr: mass conserved at |seeds|, seeds keep restart floor, flows from seeds") {
    val rows = Graph.personalizedPagerank(spark, sf).collect()
    assert(rows.nonEmpty)
    val nSeeds = rows.count(_.getBoolean(1))
    assert(nSeeds > 0 && nSeeds < rows.length)
    // constant out-degree distributes every node's rank fully, so each
    // round's total is 0.25|S| + 0.75·total: from t0 = |S| the total is
    // a fixpoint — mass is conserved EXACTLY (dyadic arithmetic)
    val total = rows.map(_.getDouble(2)).sum
    assert(math.abs(total - nSeeds.toDouble) < 1e-9,
      s"mass $total vs seeds $nSeeds")
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.0)
      // every seed receives its own restart mass in the final round
      if (r.getBoolean(1)) assert(r.getDouble(2) >= 0.25)
    }
    // trust genuinely concentrates near seeds: the seed average beats
    // the non-seed average
    val seedAvg = rows.filter(_.getBoolean(1)).map(_.getDouble(2)).sum / nSeeds
    val otherAvg = rows.filter(!_.getBoolean(1)).map(_.getDouble(2)).sum /
      (rows.length - nSeeds)
    assert(seedAvg > otherAvg)
  }

  test("components: each 64-key block is exactly one component") {
    val rows = Graph.components(spark, sf).collect()
    assert(rows.nonEmpty)
    // the edge scheme is block-local, so a component never crosses its
    // block, and chain edges connect the whole block, so it never
    // splits either
    val byBlock = rows.groupBy(r => r.getLong(0) / Graph.CcBlock)
    byBlock.foreach { case (blk, members) =>
      val comps = members.map(_.getLong(1)).distinct
      assert(comps.length == 1, s"block $blk split into $comps")
      assert(comps.head / Graph.CcBlock == blk,
        s"block $blk labeled from a foreign block: ${comps.head}")
      members.foreach(m => assert(m.getLong(2) == members.length,
        s"block $blk: component_size ${m.getLong(2)} != ${members.length}"))
    }
    // every node appears exactly once
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
  }

  test("jumpLabels: pointer jumping converges well under the O(diameter) bound") {
    // CcBlock=64 chains would need ~63 plain hash-min rounds; the jump
    // makes CcMaxIter ample — tightening to 10 must still converge
    val rows = Graph.jumpLabels(Graph.ccEdges(spark, sf),
      Tables.supplier(spark, sf).select(col("s_suppkey")), 10).collect()
    assert(rows.nonEmpty)
  }

  test("minLabelComponents: self-loops, duplicate edges, isolated nodes") {
    import spark.implicits._
    // components {1,2,3} (with a self-loop and a duplicated edge),
    // {5,6}, and isolated 9 — which appears in NO edge
    val edges = Seq((2L, 1L), (2L, 3L), (2L, 3L), (1L, 1L), (6L, 5L))
      .toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 5L, 6L, 9L).toDF("id")
    val got = Graph.minLabelComponents(edges, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L,
      9L -> 9L))
  }

  test("minLabelComponents: the driver union-find and the distributed loop agree") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val inputs: Seq[(String, Seq[(Long, Long)], Seq[Long])] = Seq(
      ("self-loops, duplicate edges, isolated nodes",
        Seq((2L, 1L), (2L, 3L), (2L, 3L), (1L, 1L), (6L, 5L)),
        Seq(1L, 2L, 3L, 5L, 6L, 9L)),
      ("seeded random graph",
        Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)),
        0L until 200L),
      ("chain longer than CcBlock", (1L to 2L * Graph.CcBlock).map(i => (i, i - 1)),
        0L to 2L * Graph.CcBlock),
      ("no edges", Nil, 0L until 5L))
    inputs.foreach { case (name, es, ns) =>
      val edges = es.toDF("src", "dst")
      val nodes = ns.toDF("id")
      def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val driver = labels(Graph.minLabelComponents(edges, nodes))
      val loop = labels(Graph.jumpLabels(edges, nodes, 24))
      assert(driver.size == ns.size, name)
      assert(driver == loop, name)
    }
  }

  test("triangles: degree-oriented count equals direct x<y<z enumeration") {
    import org.apache.spark.sql.functions._
    val got = Graph.triangles(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.sum > 0, "the chorded graph must contain triangles")
    assert(got.values.sum % 3 == 0, "each triangle has exactly 3 corners")
    // brute force over the same edge set, id-canonical enumeration
    val sup = Tables.supplier(spark, sf).select(col("s_suppkey"))
    val nv = sup.agg((max(col("s_suppkey")) + 1L).as("nv"))
    val base = sup.crossJoin(broadcast(nv))
    val chord = base.select(col("s_suppkey").as("src"),
        (col("s_suppkey") + 2L).as("dst"), col("nv"))
      .filter(col("dst") % Graph.CcBlock =!= 0 &&
        col("dst") % Graph.CcBlock =!= 1 && col("dst") < col("nv"))
      .select(col("src"), col("dst"))
    val eu = Graph.ccEdges(spark, sf).union(chord)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("w"))
      .filter(col("u") =!= col("w")).distinct()
    val t = eu.select(col("u").as("x"), col("w").as("y"))
      .join(eu.select(col("u").as("y"), col("w").as("z")), Seq("y"))
      .join(eu.select(col("u").as("x"), col("w").as("z")), Seq("x", "z"))
    val brute = t.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (n, c) =>
      assert(c == brute.getOrElse(n, 0L), s"node $n: $c vs ${brute.get(n)}")
    }
  }

  test("kcore equals in-memory peeling; members keep within-core degree >= k") {
    val k = 4
    val edges = Graph.triEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val adj = edges.flatMap { case (u, w) => Seq(u -> w, w -> u) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var alive = adj.keySet
    var changed = true
    while (changed) {
      val drop = alive.filter(n => adj(n).count(alive) < k)
      changed = drop.nonEmpty
      alive = alive -- drop
    }
    val rows = Graph.kcore(spark, sf, k).collect()
    val members = rows.filter(_.getBoolean(1)).map(_.getLong(0)).toSet
    assert(members == alive, s"core mismatch: ${members.size} vs ${alive.size}")
    rows.filter(_.getBoolean(1)).foreach { r =>
      val deg = adj(r.getLong(0)).count(alive)
      assert(r.getLong(2) == deg && deg >= k,
        s"node ${r.getLong(0)}: core_deg ${r.getLong(2)} vs $deg")
    }
    rows.filterNot(_.getBoolean(1)).foreach(r =>
      assert(r.isNullAt(2), "non-member with a core degree"))
    // every supplier node is verdicted, members or not
    assert(rows.length == Tables.supplier(spark, sf).count())
  }

  test("jaccardLinks equals an in-memory common-neighbor scoring") {
    val edges = Graph.triEdges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = edges.toSet
    val adj = edges.flatMap { case (u, w) => Seq(u -> w, w -> u) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    val brute = adj.keys.toSeq.sorted.combinations(2).collect {
      case Seq(a, b)
        if !edgeSet.contains((a, b)) && (adj(a) & adj(b)).nonEmpty =>
        val c = (adj(a) & adj(b)).size
        val j = math.floor(
          c.toDouble / (adj(a).size + adj(b).size - c) * 10000 + 0.5) / 10000
        (a, b, c.toLong, j)
    }.toSeq.sortBy { case (a, b, _, j) => (-j, a, b) }.take(20)
    val rows = Graph.jaccardLinks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(rows == brute, s"top-20 mismatch:\n$rows\nvs\n$brute")
  }

  test("modularity: integer recompute from the labelprop partition") {
    val lp = Graph.labelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val und = Graph.ccEdges(spark, sf).collect()
      .map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toSet
    val m = und.size.toLong
    val deg = und.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val ein = und.toSeq.filter(p => lp(p._1) == lp(p._2))
      .groupBy(p => lp(p._1)).map { case (c, v) => c -> v.size.toLong }
    val dtot = deg.toSeq.groupBy(p => lp(p._1))
      .map { case (c, v) => c -> v.map(_._2).sum }
    val sizes = lp.values.groupBy(identity)
      .map { case (c, v) => c -> v.size.toLong }
    val rows = Graph.modularity(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == sizes.keySet,
      "one row per labelprop community")
    rows.foreach { r =>
      val c = r.getLong(0)
      assert(r.getLong(1) == sizes(c), s"community $c size")
      assert(r.getLong(2) == ein.getOrElse(c, 0L), s"community $c e_in")
      assert(r.getLong(3) == dtot.getOrElse(c, 0L), s"community $c d_tot")
      val e = ein.getOrElse(c, 0L); val d = dtot.getOrElse(c, 0L)
      val want = math.floor((4L * m * e - d * d).toDouble
        / (4L * m * m).toDouble * 1e6 + 0.5) / 1e6
      assert(r.getDouble(4) == want, s"community $c q_frac")
    }
    // better than random (Q > 0) — with many communities on a small
    // graph the absolute value stays modest, but the sign is the claim
    val q = rows.map(_.getDouble(4)).sum
    assert(q > 0.0 && q <= 1.0, s"labelprop modularity out of range: $q")
  }

  test("degree distribution: bins recompute from raw degrees, totals conserve") {
    val und = Graph.ccEdges(spark, sf).collect()
      .map { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).toSet
    val deg = und.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (_, v) => v.size.toLong }
    val want = deg.groupBy(d => 63 - java.lang.Long.numberOfLeadingZeros(d))
    val rows = Graph.degreeDist(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet ==
      want.keySet.map(_.toLong), "bin ids")
    rows.foreach { r =>
      val g = want(r.getLong(0).toInt)
      assert(r.getLong(1) == g.size.toLong)
      assert(r.getLong(2) == g.min && r.getLong(3) == g.max)
      assert(r.getLong(4) == g.sum)
      // bin boundaries honest: every degree in [2^bin, 2^(bin+1))
      assert(g.min >= (1L << r.getLong(0).toInt) &&
        g.max < (1L << (r.getLong(0).toInt + 1)))
    }
    // conservation: every node binned once, degree mass = 2|E|
    assert(rows.map(_.getLong(1)).sum == deg.size.toLong)
    assert(rows.map(_.getLong(4)).sum == 2L * und.size)
  }

  test("label propagation: strictly refines components, deterministic") {
    val lp = Graph.labelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val comp = Graph.components(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp.keySet == comp.keySet, "one label per node")
    // a community can never span two components (labels only travel
    // along edges), and LPA must find FINER structure than mere
    // connectivity — that is what it is for
    val commToComp = lp.toSeq.groupBy(_._2._1)
      .map { case (c, ns) => c -> ns.map(n => comp(n._1)).distinct }
    assert(commToComp.values.forall(_.size == 1),
      "a community spans multiple components")
    assert(commToComp.size > comp.values.toSet.size,
      "LPA collapsed to bare connectivity")
    // community_size column is consistent with the labels themselves
    val sizes = lp.values.groupBy(_._1).map { case (c, v) => c -> v.size }
    lp.values.foreach { case (c, s) => assert(s == sizes(c)) }
    // pure function of the graph: rerun identical (the schedule is
    // deterministic by construction, not by luck)
    val again = Graph.labelProp(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(again == lp)
  }
}
