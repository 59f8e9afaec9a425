package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.GeoFunctions._
import graft.functions.Pins

/** Road-network travel times — the true OSRM `table` semantics.
  *
  * The reference never uses straight-line distance: every ETA routes
  * over an actual road graph (ram-analysis/app/calculate-eta/
  * tasks.js:253-283 `osrm.table`; scripts/osm2osrm.sh builds the graph
  * from OSM). This module re-expresses that on Spark: a deterministic
  * road-edge table synthesized from supplier keys (ring + two chords —
  * connected, degree ~3, weights = road-speed travel seconds over the
  * key-derived coordinates) and a bounded-hop shortest-path computed by
  * iterative DataFrame edge relaxation (distributed Bellman-Ford).
  *
  * Scale posture: per round, the frontier `dist` frame joins the edge
  * table on the edge's source node — one equi-join + one (src, node)
  * min-aggregation, both partial-agg friendly; each round is pinned
  * (lineage truncated) and the superseded round released at the round
  * boundary ([[graft.functions.Pins]]). Hop count is part of the QUERY
  * SEMANTICS (OSRM's table is distance-bounded the same way the reference caps
  * its POI buffer search), so the loop is a fixed `hops` rounds — no
  * convergence probe jobs. At 100 TB the dist frame shards by
  * (src, node) across executors; nothing ever collects to the driver.
  *
  * FP determinism (why the DuckDB recursive-CTE oracle hash-matches):
  * Bellman-Ford computes min-then-add per hop, the CTE add-then-min
  * over whole paths; IEEE addition is monotone, so min(a,b)+w ==
  * min(a+w, b+w) exactly, and both engines accumulate each path's
  * weights left-to-right in the same order.
  */
object Routing {
  val RoadSpeedKmh = 60.0
  val WalkSpeedKmh = 4.0 // reference WALKSPEED (tasks.js:141)
  val DefaultHops = 6

  /** Deterministic synthetic road network over the (0-based) supplier
    * key space 0..V-1: ring successor + two multiplicative chords per
    * node (self loops removed, duplicate edges collapsed) — strongly
    * connected via the ring, degree ~3. Weight = travel seconds at road
    * speed between the endpoints' derived coordinates. */
  def roadEdges(spark: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(spark, dir).select(col("s_suppkey"))
    val nv = sup.agg((max(col("s_suppkey")) + 1L).as("nv"))
    sup.crossJoin(broadcast(nv))
      .select(col("s_suppkey").as("src"), explode(array(
        (col("s_suppkey") + 1L) % col("nv"),
        (col("s_suppkey") * 7L + 3L) % col("nv"),
        (col("s_suppkey") * 13L + 5L) % col("nv"))).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .withColumn("w", travelSeconds(euclidDeg(
        latOf(col("src")), lonOf(col("src")),
        latOf(col("dst")), lonOf(col("dst"))), RoadSpeedKmh))
  }

  /** Many-to-many bounded-hop shortest-path travel seconds from every
    * source node (s_suppkey % 41 == 1) to every node reachable within
    * `hops` edges — the OSRM `table` matrix the reference row-mins
    * (tasks.js:279). Output: (src, node, eta_s), src==node at 0. */
  def routeEta(spark: SparkSession, dir: String,
               hops: Int = DefaultHops): DataFrame =
    routeEtaOver(spark, dir, roadEdges(spark, dir), hops)

  /** [[routeEta]] with the road graph parsed from an OSM XML extract —
    * the reference's true input path (road-network.osm → osm2osrm →
    * osrm.table; index.js:53-60). The fixture extract encodes the same
    * formulaic graph with per-highway-class speeds, so the full chain
    * XML parse → segment explosion → coord joins → class/maxspeed
    * speeds → Bellman-Ford is pinned by one recursive-CTE oracle. */
  def osmRouteEta(spark: SparkSession, dir: String,
                  hops: Int = DefaultHops): DataFrame = {
    val path = graft.sources.OsmFixture.writeRoadFixture(spark, dir)
    val edges = graft.sources.OsmXml.roadEdges(spark, path)
      .select(col("src"), col("dst"), col("w"))
    routeEtaOver(spark, dir, edges, hops)
  }

  /** Shared relaxation loop: bounded-hop Bellman-Ford of `edgeFrame`
    * ((src, dst, w) directed, weights in seconds) from the supplier-key
    * source set. */
  private def routeEtaOver(spark: SparkSession, dir: String,
      edgeFrame: DataFrame, hops: Int): DataFrame = Pins.scope { s =>
    require(hops >= 1)
    val edges = s.pin(edgeFrame.withColumnRenamed("src", "esrc"))
    var dist = s.pin(Tables.supplier(spark, dir)
      .filter(col("s_suppkey") % 41 === 1)
      .select(col("s_suppkey").as("src"), col("s_suppkey").as("node"),
        lit(0.0).as("d")))
    for (_ <- 1 to hops) {
      val relaxed = dist.join(edges, dist("node") === edges("esrc"))
        .select(dist("src"), edges("dst").as("node"),
          (col("d") + col("w")).as("d"))
      dist = s.advance(dist, s.pin(dist.unionByName(relaxed)
        .groupBy(col("src"), col("node")).agg(min(col("d")).as("d"))))
    }
    // the result reads the final frontier (output-sized, already
    // pinned); the edge table is released at scope exit
    dist
      .select(col("src"), col("node"), round(col("d"), 4).as("eta_s"))
      .orderBy(col("src"), col("node"))
  }

  /** Routed nearest-POI ETA: the row-min the reference takes over the
    * OSRM table (tasks.js:279) — per source node, the minimum routed
    * travel time to any POI node of each type (POI type = node % 4,
    * matching [[Accessibility]]'s mapping), null semantics preserved by
    * the left join against the type dim. Composes [[routeEta]], so the
    * whole pipeline (graph -> matrix -> row-min) stays distributed. */
  def routeNearestPoi(spark: SparkSession, dir: String,
                      hops: Int = DefaultHops): DataFrame = {
    val eta = routeEta(spark, dir, hops)
      .withColumn("poi_type", col("node") % 4)
    // aggregate FIRST: the row-min shrinks the matrix to output size
    // before any outer join, so the density join below is small x small
    // (a matrix-vs-density outer join would shuffle the whole matrix)
    val mins = eta.groupBy(col("src"), col("poi_type"))
      .agg(min(col("eta_s")).as("eta_s"))
    val srcTypes = eta.select(col("src")).distinct()
      .crossJoin(broadcast(eta.select(col("poi_type")).distinct()))
    srcTypes.join(broadcast(mins), Seq("src", "poi_type"), "left_outer")
      .select(col("src"), col("poi_type"), col("eta_s"))
      .orderBy(col("src"), col("poi_type"))
  }

  /** The COMPLETE reference ETA pipeline, door to door: each origin
    * walks (4 km/h, tasks.js:141-151) to its nearest road access point
    * (the route-matrix source nodes), then rides the routed network to
    * the nearest type-0 POI node — walk-adjust + osrm.table + row-min
    * in one distributed plan. Null eta when no access point is within
    * the search cap or no POI node is routable within the hop bound —
    * the reference's Infinity semantics.
    *
    * Scale: the walk leg is the cell-bucketed radius join (per-origin
    * work = local access-point density); the routed leg joins the
    * origin side against the ALREADY row-minned matrix (output-sized,
    * broadcast). Origins are never shuffled except by their own
    * per-origin min aggregation. */
  def routeDoorToDoor(spark: SparkSession, dir: String,
                      hops: Int = DefaultHops): DataFrame = {
    val o = Tables.customer(spark, dir).select(col("c_custkey"),
      latOf(col("c_custkey")).as("lat"), lonOf(col("c_custkey")).as("lon"))
    val srcs = Tables.supplier(spark, dir)
      .filter(col("s_suppkey") % 41 === 1)
      .select(col("s_suppkey").as("asrc"),
        latOf(col("s_suppkey")).as("lat"), lonOf(col("s_suppkey")).as("lon"))
    // nearest access point within the cap: lexicographic (dist, id) min;
    // the struct is nulled for unmatched left-outer rows so min() skips
    // them and a cut-off origin keeps a null access point
    val near = GeoJoins.radiusJoin(o, srcs, Accessibility.MaxReachDeg,
        broadcastRight = true, joinType = "left_outer")
      .groupBy(col("c_custkey"))
      .agg(min(when(col("asrc").isNotNull,
        struct(col("dist_deg"), col("asrc")))).as("m"))
      .select(col("c_custkey"), col("m.asrc").as("src"),
        col("m.dist_deg").as("walk_deg"))
    val minz = routeEta(spark, dir, hops)
      .filter(col("node") % 4 === 0)
      .groupBy(col("src")).agg(min(col("eta_s")).as("route_s"))
    near.join(broadcast(minz), Seq("src"), "left_outer")
      .select(col("c_custkey"), col("src"),
        round(travelSeconds(col("walk_deg"), WalkSpeedKmh) + col("route_s"), 2)
          .as("eta_s"))
      .orderBy(col("c_custkey"))
  }

  /** Isochrone coverage curve per route-matrix source: the reference's
    * headline deliverable is "how much is reachable within T" per
    * origin (ram-analysis/app/index.js:520-541 assembles per-origin
    * eta-<poiType> properties; the RAM UI bins them into isochrone
    * bands) — here as a dense (src x time-band) table of newly-reached
    * and cumulative node counts plus the coverage share of the whole
    * network.
    *
    * Scale posture: the routed matrix collapses to (src, band) counts
    * FIRST (partial-agg, matrix never crosses anything); the dense band
    * spine is (sources) x (nBins broadcast dim); the cumulative window
    * partitions by src over exactly nBins rows — bounded by the band
    * count, not the graph. The total-node scalar is a one-row broadcast
    * cross. */
  def isochroneCoverage(spark: SparkSession, dir: String,
                        hops: Int = DefaultHops, binS: Double = 750000.0,
                        nBins: Int = 6): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eta = routeEta(spark, dir, hops)
    val total = Tables.supplier(spark, dir)
      .agg(count(lit(1)).cast("double").as("nv"))
    val binned = eta
      .withColumn("bin",
        least(floor(col("eta_s") / binS), lit((nBins - 1).toLong)).cast("int"))
      .groupBy(col("src"), col("bin")).agg(count(lit(1)).as("c"))
    val spine = eta.select(col("src")).distinct()
      .crossJoin(broadcast(
        eta.sparkSession.range(nBins).select(col("id").cast("int").as("bin"))))
    val w = Window.partitionBy(col("src")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(binned.hint("shuffle_hash"), Seq("src", "bin"), "left")
      .select(col("src"), col("bin"), coalesce(col("c"), lit(0L)).as("n_new"))
      .withColumn("n_reachable", sum(col("n_new")).over(w))
      .crossJoin(broadcast(total))
      .select(col("src"), col("bin"),
        ((col("bin") + 1) * binS).as("t_max_s"),
        col("n_new"), col("n_reachable"),
        // floor(x*1e4+0.5)/1e4, not round: see TextAnalysis.withQuality
        (floor(col("n_reachable") / col("nv") * 10000.0 + 0.5) / 10000.0)
          .as("share"))
      .orderBy(col("src"), col("bin"))
  }
}
