package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Geospatial operators (SURVEY.md §2.10 — all EXT; the reference
  * carries no coordinates, /root/reference/main.py:5–17 — this is the
  * grid-cell family every warehouse bolts on once events do: store
  * locators, delivery radii, geo-fenced attribution). No geo
  * extension exists on either engine
  * in this environment, so the family is built the portable way:
  * haversine as plain math expressions and SPATIAL JOINS as grid-cell
  * equi joins — the same never-a-BNLJ discipline as
  * [[Joins.gridRangeJoin]], in two dimensions.
  *
  * Coordinates are SYNTHESIZED deterministically from customer keys
  * (2-decimal degrees — exact doubles; the multimodal payload
  * contract: the generator is the spec and the oracle replays it).
  *
  * Scale shape: the cell id is a map-only projection; the candidate
  * join is equi on (cellx, celly) with a 3×3 neighborhood explode on
  * the QUERY side only (9× the query rows, never the corpus); ranking
  * quantizes distance to integer meters BEFORE the rank so a last-ulp
  * trig difference cannot flip an order. At 100 TB the cell census is
  * one compact-key agg and the NN search cost is |Q|·9·(points per
  * cell) — bounded by cell granularity exactly as IVF probes bound
  * ANN, and like IVF the search is GRID-BOUNDED by contract (a
  * neighbor beyond the 3×3 ring is out of scope; the spec audits
  * recall vs brute force).
  */
object GeoOps {

  private val cellLat = 15.0
  private val cellLon = 30.0
  private val lonCells = 12 // 360 / cellLon — the Z/12 longitude ring
  private val nQueries = 10
  private val topK = 3
  private val earthRadiusM = 6371000.0

  /** Deterministic 2-decimal coordinates from the customer key. */
  private def points(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("id"),
      ((pmod(col("c_custkey") * 37, lit(12000)).cast("double") / 100) - 60).as("lat"),
      ((pmod(col("c_custkey") * 91, lit(36000)).cast("double") / 100) - 180).as("lon"))

  private val pointsSql: String =
    """pts AS (
      |  SELECT c_custkey AS id,
      |         CAST((c_custkey * 37) % 12000 AS DOUBLE) / 100 - 60 AS lat,
      |         CAST((c_custkey * 91) % 36000 AS DOUBLE) / 100 - 180 AS lon
      |  FROM customer)""".stripMargin

  private def haversineM(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dlat = radians(lat2 - lat1) / 2
    val dlon = radians(lon2 - lon1) / 2
    val a = sin(dlat) * sin(dlat) +
      cos(radians(lat1)) * cos(radians(lat2)) * sin(dlon) * sin(dlon)
    lit(2 * earthRadiusM) * asin(sqrt(a))
  }

  private def haversineMSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""2 * $earthRadiusM * asin(sqrt(
       |  sin(radians($lat2 - $lat1) / 2) * sin(radians($lat2 - $lat1) / 2) +
       |  cos(radians($lat1)) * cos(radians($lat2)) *
       |  sin(radians($lon2 - $lon1) / 2) * sin(radians($lon2 - $lon1) / 2)))""".stripMargin

  /** Grid-bounded nearest neighbors: top-3 points within the 3×3 cell
    * ring of each of the first 10 query points, ranked by integer-
    * meter haversine (tie: id). See object doc for the IVF-style
    * bounded-search contract. */
  def nearest(spark: SparkSession, dir: String): DataFrame = {
    val pts = points(spark, dir)
      .withColumn("cellx", floor(col("lat") / cellLat))
      // same modulo-12 antimeridian wrap as [[radiusJoin]]: cells −6
      // and 5 are globe-adjacent, so celly lives on the ring Z/12 or
      // the ±180° seam silently loses neighbors (advisor round 9)
      .withColumn("celly", pmod(floor(col("lon") / cellLon), lit(lonCells)))
    val q = pts.filter(col("id") < nQueries)
      .select(col("id").as("query_id"), col("lat").as("qlat"), col("lon").as("qlon"),
        col("cellx").as("qcx"), col("celly").as("qcy"))
      .withColumn("dx", explode(array((-1 to 1).map(lit(_)): _*)))
      .withColumn("dy", explode(array((-1 to 1).map(lit(_)): _*)))
      .select(col("query_id"), col("qlat"), col("qlon"),
        (col("qcx") + col("dx")).as("cellx"),
        pmod(col("qcy") + col("dy"), lit(lonCells)).as("celly"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("dist_m"), col("id"))
    broadcast(q).join(pts, Seq("cellx", "celly"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("dist_m",
        round(haversineM(col("qlat"), col("qlon"), col("lat"), col("lon"))).cast("long"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("dist_m"))
      .orderBy(col("query_id"), col("rank"))
  }

  val nearestSql: String =
    s"""WITH $pointsSql,
       |cells AS (
       |  SELECT id, lat, lon,
       |         CAST(floor(lat / $cellLat) AS BIGINT) AS cellx,
       |         CAST((CAST(floor(lon / $cellLon) AS BIGINT) % $lonCells + $lonCells)
       |              % $lonCells AS BIGINT) AS celly
       |  FROM pts),
       |q AS (
       |  SELECT c.id AS query_id, c.lat AS qlat, c.lon AS qlon,
       |         c.cellx + dx.dx AS cellx,
       |         ((c.celly + dy.dy) % $lonCells + $lonCells) % $lonCells AS celly
       |  FROM cells c,
       |       (SELECT unnest([-1, 0, 1]) AS dx) dx,
       |       (SELECT unnest([-1, 0, 1]) AS dy) dy
       |  WHERE c.id < $nQueries)
       |SELECT query_id, rank, neighbor_id, dist_m FROM (
       |  SELECT q.query_id, c.id AS neighbor_id,
       |         CAST(round(${haversineMSql("q.qlat", "q.qlon", "c.lat", "c.lon")})
       |              AS BIGINT) AS dist_m,
       |         CAST(row_number() OVER (
       |           PARTITION BY q.query_id
       |           ORDER BY CAST(round(${haversineMSql("q.qlat", "q.qlon", "c.lat", "c.lon")})
       |                    AS BIGINT), c.id) AS BIGINT) AS rank
       |  FROM q JOIN cells c ON q.cellx = c.cellx AND q.celly = c.celly
       |  WHERE q.query_id <> c.id)
       |WHERE rank <= $topK
       |ORDER BY query_id, rank""".stripMargin

  /** Grid-cell density census: points + bounding box per occupied
    * cell — the heat-map/partition-design view (how many points share
    * a cell answers both "where is demand" and "is the NN join's
    * per-cell cost bounded"). One compact-key agg. */
  def cellCensus(spark: SparkSession, dir: String): DataFrame =
    points(spark, dir)
      .groupBy(floor(col("lat") / cellLat).cast("long").as("cellx"),
        floor(col("lon") / cellLon).cast("long").as("celly"))
      .agg(count(lit(1)).as("n_points"),
        min(col("lat")).as("min_lat"), max(col("lat")).as("max_lat"),
        min(col("lon")).as("min_lon"), max(col("lon")).as("max_lon"))
      .orderBy(col("cellx"), col("celly"))

  val cellCensusSql: String =
    s"""WITH $pointsSql
       |SELECT CAST(floor(lat / $cellLat) AS BIGINT) AS cellx,
       |       CAST(floor(lon / $cellLon) AS BIGINT) AS celly,
       |       count(*) AS n_points,
       |       min(lat) AS min_lat, max(lat) AS max_lat,
       |       min(lon) AS min_lon, max(lon) AS max_lon
       |FROM pts GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** RADIUS join ("everything within 500 km") — unlike [[nearest]]'s
    * grid-BOUNDED contract, this one is EXACT: 500 km is 4.5° of
    * latitude and at the corpus's |lat| ≤ 60° at most 9° of longitude
    * — both under one cell (15°/30°), so the 3×3 ring provably
    * contains every point within the radius and the ring is a
    * candidate PRUNE, not an approximation (the inequality the
    * docstring states is the correctness proof, the same cell-size-
    * vs-predicate-reach argument as the grid range join's time
    * cells). The proof needs one more step the naive grid misses:
    * longitude cells WRAP — a pair straddling the ±180° antimeridian
    * is ~0° apart on the globe but ±11 cells apart in raw ids, so
    * both sides join on the cell id MODULO the 12-cell ring
    * (latitude needs no wrap: |lat| ≤ 60° keeps the poles out of
    * reach). Census output per query point: neighbor count + nearest
    * distance. */
  private val radiusM = 500000L

  def radiusJoin(spark: SparkSession, dir: String): DataFrame = {
    val pts = points(spark, dir)
      .withColumn("cellx", floor(col("lat") / cellLat))
      .withColumn("celly", pmod(floor(col("lon") / cellLon), lit(lonCells)))
    val q = pts.filter(col("id") < 50)
      .select(col("id").as("query_id"), col("lat").as("qlat"), col("lon").as("qlon"),
        col("cellx").as("qcx"), col("celly").as("qcy"))
      .withColumn("dx", explode(array((-1 to 1).map(lit(_)): _*)))
      .withColumn("dy", explode(array((-1 to 1).map(lit(_)): _*)))
      .select(col("query_id"), col("qlat"), col("qlon"),
        (col("qcx") + col("dx")).as("cellx"),
        pmod(col("qcy") + col("dy"), lit(lonCells)).as("celly"))
    broadcast(q).join(pts, Seq("cellx", "celly"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("dist_m",
        round(haversineM(col("qlat"), col("qlon"), col("lat"), col("lon"))).cast("long"))
      .filter(col("dist_m") <= radiusM)
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_within"), min(col("dist_m")).as("nearest_m"))
      .orderBy(col("query_id"))
  }

  val radiusJoinSql: String =
    s"""WITH $pointsSql,
       |cells AS (
       |  SELECT id, lat, lon,
       |         CAST(floor(lat / $cellLat) AS BIGINT) AS cellx,
       |         CAST((CAST(floor(lon / $cellLon) AS BIGINT) % $lonCells + $lonCells)
       |              % $lonCells AS BIGINT) AS celly
       |  FROM pts),
       |q AS (
       |  SELECT c.id AS query_id, c.lat AS qlat, c.lon AS qlon,
       |         c.cellx + dx.dx AS cellx,
       |         ((c.celly + dy.dy) % $lonCells + $lonCells) % $lonCells AS celly
       |  FROM cells c,
       |       (SELECT unnest([-1, 0, 1]) AS dx) dx,
       |       (SELECT unnest([-1, 0, 1]) AS dy) dy
       |  WHERE c.id < 50),
       |within AS (
       |  SELECT q.query_id,
       |         CAST(round(${haversineMSql("q.qlat", "q.qlon", "c.lat", "c.lon")})
       |              AS BIGINT) AS dist_m
       |  FROM q JOIN cells c ON q.cellx = c.cellx AND q.celly = c.celly
       |  WHERE q.query_id <> c.id)
       |SELECT query_id, count(*) AS n_within, min(dist_m) AS nearest_m
       |FROM within WHERE dist_m <= $radiusM
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** POINT-IN-POLYGON census — the geo-fencing primitive (delivery
    * zones, attribution regions): classify every customer point
    * against a fixed polygon by RAY CASTING (odd crossings of the
    * eastward ray = inside), censused per market segment. The
    * crossing test is pure arithmetic over the ≤|vertices| literal
    * edge table — a broadcast nested loop over a 5-row constant,
    * i.e. map-only per point — and a BOUNDING-BOX precheck prunes
    * most points before any division runs (the predicate-pushdown
    * discipline: at 100 TB the bbox filter reaches the scan).
    * Vertices sit on .005 offsets while points live on the .01 grid,
    * so no point can land exactly on an edge — the parity test is
    * engine-exact. */
  def pointInPolygon(spark: SparkSession, dir: String): DataFrame = {
    // a pentagon over the mid-Atlantic test window
    val poly = Seq((10.505, -40.505), (25.505, -20.505), (5.505, 0.505),
      (-15.505, -10.505), (-10.505, -35.505))
    val (minLat, maxLat) = (poly.map(_._1).min, poly.map(_._1).max)
    val (minLon, maxLon) = (poly.map(_._2).min, poly.map(_._2).max)
    val edges = poly.zip(poly.tail :+ poly.head)
    val crossings = edges.map { case ((y1, x1), (y2, x2)) =>
      // edge crosses the eastward ray from (lat, lon)?
      when(((lit(y1) > col("lat")) =!= (lit(y2) > col("lat"))) &&
        col("lon") < lit(x2 - x1) * (col("lat") - lit(y1)) / lit(y2 - y1) + lit(x1),
        1L).otherwise(0L)
    }.reduce(_ + _)
    val inBbox = col("lat") >= minLat && col("lat") <= maxLat &&
      col("lon") >= minLon && col("lon") <= maxLon
    points(spark, dir)
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("id"), col("c_mktsegment").as("segment")), "id")
      .withColumn("inside", when(inBbox, pmod(crossings, lit(2L)) === 1L)
        .otherwise(lit(false)))
      .groupBy(col("segment"))
      .agg(count(lit(1)).as("n_points"),
        sum(when(col("inside"), 1L).otherwise(0L)).as("n_inside"))
      .select(col("segment"), col("n_points"), col("n_inside"),
        round(lit(1e6) * col("n_inside").cast("double") / col("n_points").cast("double"))
          .cast("long").as("inside_ppm"))
      .orderBy(col("segment"))
  }

  val pointInPolygonSql: String = {
    val poly = Seq((10.505, -40.505), (25.505, -20.505), (5.505, 0.505),
      (-15.505, -10.505), (-10.505, -35.505))
    val edges = poly.zip(poly.tail :+ poly.head)
    val crossings = edges.map { case ((y1, x1), (y2, x2)) =>
      s"""(CASE WHEN (($y1 > lat) <> ($y2 > lat))
         | AND lon < ($x2 - $x1) * (lat - $y1) / ($y2 - $y1) + $x1
         | THEN 1 ELSE 0 END)""".stripMargin.replace('\n', ' ')
    }.mkString(" + ")
    val (minLat, maxLat) = (poly.map(_._1).min, poly.map(_._1).max)
    val (minLon, maxLon) = (poly.map(_._2).min, poly.map(_._2).max)
    s"""WITH $pointsSql,
       |cls AS (
       |  SELECT c.c_mktsegment AS segment,
       |         CASE WHEN p.lat >= $minLat AND p.lat <= $maxLat
       |               AND p.lon >= $minLon AND p.lon <= $maxLon
       |              THEN ($crossings) % 2 = 1 ELSE FALSE END AS inside
       |  FROM pts p JOIN customer c ON p.id = c.c_custkey)
       |SELECT segment, count(*) AS n_points,
       |       CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS BIGINT) AS n_inside,
       |       CAST(round(1e6 * CAST(sum(CASE WHEN inside THEN 1 ELSE 0 END) AS DOUBLE)
       |            / count(*)) AS BIGINT) AS inside_ppm
       |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------
  // DBSCAN density clustering
  // ---------------------------------------------------------------

  /** DBSCAN over a deterministic point cloud — the density clustering
    * the engine's k-means cells ([[graft.operators.Similarity]]) can't
    * express: clusters of ARBITRARY shape, plus an explicit noise
    * verdict. Parameters eps = 1 unit, minPts = 5 (closed
    * neighborhood). The plan is the canonical distributed DBSCAN:
    * (1) eps-sized grid cells make the neighbor search an EQUI join —
    * a 3×3 cell explode on one side only, never an all-pairs cross —
    * with the pair predicate d² ≤ eps² evaluated in exact integer
    * centiunits; (2) core points by neighbor census (one
    * map-side-combinable agg); (3) clusters = connected components of
    * the core-core graph via the O(log d) pointer-jumping fixpoint
    * ([[graft.api.Graft.connectedComponents]]); (4) border points take
    * the MIN adjacent core label (deterministic tie-break), the rest
    * is noise (cluster −1).
    *
    * The domain side-length scales as ⌈√n⌉ so density stays ~1
    * point/unit² at EVERY sf — expected eps-degree π < the continuum
    * percolation threshold (λπr² ≈ 4.51), so components stay small at
    * any corpus size: that is what keeps the core graph's components
    * (and the oracle's recursive-CTE closure) bounded — the same
    * argument that keeps minhash band buckets from exploding. At
    * 100 TB: one compact-key cell agg, one 9× grid join, the CC
    * fixpoint — no global sort, no data-sized single partition. */
  /** The √n-scaled deterministic point cloud + its eps-proximity
    * pairs (exact integer centiunit distances, eps-grid equi join) —
    * shared by [[dbscan]] and [[khopReach]]. The returned pairs are
    * localCheckpoint-ed: both consumers reuse them several times and
    * must not re-run the 9× grid join per reference. */
  private def epsGraph(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val epsC = 100L // eps in centiunits (1.0 unit)
    val m = Tables.customer(spark, dir)
      .agg(floor(sqrt(count(lit(1)).cast("double"))).cast("long").as("m"))
    val pts = Tables.customer(spark, dir).select(col("c_custkey").as("id"))
      .crossJoin(broadcast(m))
      .select(col("id"),
        pmod(col("id") * 37, col("m") * 100).as("xc"),
        pmod(col("id") * 91, col("m") * 100).as("yc"))
      .withColumn("cx", expr("xc div 100"))
      .withColumn("cy", expr("yc div 100"))
    val probe = pts
      .withColumn("dx", explode(array((-1 to 1).map(lit(_)): _*)))
      .withColumn("dy", explode(array((-1 to 1).map(lit(_)): _*)))
      .select(col("id").as("ida"), col("xc").as("xa"), col("yc").as("ya"),
        (col("cx") + col("dx")).as("cx"), (col("cy") + col("dy")).as("cy"))
    val pairs = probe.join(pts.select(col("id").as("idb"), col("xc").as("xb"),
        col("yc").as("yb"), col("cx"), col("cy")), Seq("cx", "cy"))
      .filter(col("ida") =!= col("idb"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <= lit(epsC * epsC))
      .select(col("ida"), col("idb"))
      .localCheckpoint()
    (pts, pairs)
  }

  /** The shared SQL prefix replaying [[epsGraph]] — MATERIALIZED, or
    * DuckDB re-inlines the grid join into every consumer (and, in the
    * recursive oracles, into every ITERATION — the 72-CPU-minute
    * lesson this round). */
  private val epsGraphSql: String =
    """m AS (
      |  SELECT CAST(floor(sqrt(count(*))) AS BIGINT) AS m FROM customer),
      |pts AS MATERIALIZED (
      |  SELECT c_custkey AS id,
      |         (c_custkey * 37) % (m.m * 100) AS xc,
      |         (c_custkey * 91) % (m.m * 100) AS yc
      |  FROM customer, m),
      |cells AS MATERIALIZED (SELECT id, xc, yc, xc // 100 AS cx, yc // 100 AS cy FROM pts),
      |pairs AS MATERIALIZED (
      |  SELECT a.id AS ida, b.id AS idb
      |  FROM cells a JOIN cells b
      |    ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
      |   AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
      |   AND a.id <> b.id
      |   AND (a.xc - b.xc) * (a.xc - b.xc)
      |       + (a.yc - b.yc) * (a.yc - b.yc) <= 10000)""".stripMargin

  /** The core-core edge list [[dbscan]] clusters — exposed for the
    * ScaleProbe fixpoint-invariant gate (r12 verdict #1), which must
    * verify the PRODUCTION edge pipeline, not a probe-local copy. */
  private[graft] def dbscanCoreEdges(spark: SparkSession, dir: String): DataFrame = {
    val minPts = 5L
    val (_, pairs) = epsGraph(spark, dir)
    val deg = pairs.groupBy(col("ida")).agg((count(lit(1)) + lit(1L)).as("deg"))
    val core = deg.filter(col("deg") >= minPts).select(col("ida").as("id"))
    pairs.join(core.select(col("id").as("ida")), Seq("ida"))
      .join(core.select(col("id").as("idb")), Seq("idb"))
  }

  def dbscan(spark: SparkSession, dir: String): DataFrame = {
    val minPts = 5L // closed-neighborhood minimum, self included
    val (pts, pairs) = epsGraph(spark, dir)
    // shuffle-free scan of the just-checkpointed pair blocks; gates
    // the measured-tiny tail materialization below (r16)
    val nPairs = pairs.count()
    val deg = pairs.groupBy(col("ida")).agg((count(lit(1)) + lit(1L)).as("deg"))
    val core = deg.filter(col("deg") >= minPts).select(col("ida").as("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("ida")), Seq("ida"))
      .join(core.select(col("id").as("idb")), Seq("idb"))
    val cc = graft.api.Graft.connectedComponents(coreEdges, "ida", "idb")
      .select(col("id"), col("component"))
    // isolated cores (no core neighbor) are their own 1-core cluster
    val coreLbl = core.join(cc, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cl"))
    val borderLbl = pairs
      .join(coreLbl.select(col("id").as("idb"), col("cl")), Seq("idb"))
      .join(core.select(col("id").as("ida")), Seq("ida"), "left_anti")
      .groupBy(col("ida")).agg(min(col("cl")).as("cl"))
      .select(col("ida").as("id"), col("cl"))
    val assigned = coreLbl.withColumn("is_core", lit(1L))
      .unionByName(borderLbl.withColumn("is_core", lit(0L)))
    val census = assigned.groupBy(col("cl"))
      .agg(sum(col("is_core")).as("n_core"),
        sum(lit(1L) - col("is_core")).as("n_border"),
        count(lit(1)).as("n_pts"))
      .select(col("cl").as("cluster"), col("n_core"), col("n_border"),
        col("n_pts"))
    val noise = pts.join(assigned.select(col("id")), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_pts"))
      .select(lit(-1L).as("cluster"), lit(0L).as("n_core"),
        lit(0L).as("n_border"), col("n_pts"))
    // measured-tiny tail (r16): the border/census/noise assembly joins
    // only against the CHECKPOINTED pair blocks and the CC labels, yet
    // ran as ~20 AQE query-stage driver jobs of 50-150 ms each.
    // When the pair graph measures tiny, materialize the (cluster-
    // count-sized) census in a tiny scope, as one partition so the sort
    // plans without an exchange; at real scale the plan stays lazy.
    val tail = census.unionByName(noise)
    val tiny = graft.api.Graft.tiny(spark, nPairs)
    (if (tiny.isEmpty) tail
     else graft.api.Graft.scoped(spark, s"dbscan:$nPairs", tiny)(
       graft.api.Graft.on(_, tail).coalesce(1).localCheckpoint()))
      .orderBy(col("n_pts").desc, col("cluster"))
  }

  val dbscanSql: String =
    s"""WITH RECURSIVE $epsGraphSql,
      |core AS MATERIALIZED (
      |  SELECT ida AS id FROM pairs GROUP BY 1 HAVING count(*) + 1 >= 5),
      |ce AS MATERIALIZED (
      |  SELECT p.ida, p.idb FROM pairs p
      |  WHERE p.ida IN (SELECT id FROM core)
      |    AND p.idb IN (SELECT id FROM core)),
      |reach(a, b) AS (
      |  SELECT id, id FROM core
      |  UNION
      |  SELECT r.a, e.idb FROM reach r JOIN ce e ON r.b = e.ida),
      |corelbl AS MATERIALIZED (SELECT a AS id, min(b) AS cl FROM reach GROUP BY a),
      |borderlbl AS (
      |  SELECT p.ida AS id, min(l.cl) AS cl
      |  FROM pairs p JOIN corelbl l ON p.idb = l.id
      |  WHERE p.ida NOT IN (SELECT id FROM core)
      |  GROUP BY 1),
      |asg AS MATERIALIZED (
      |  SELECT id, cl, 1 AS is_core FROM corelbl
      |  UNION ALL
      |  SELECT id, cl, 0 AS is_core FROM borderlbl),
      |census AS (
      |  SELECT cl AS cluster, sum(is_core) AS n_core,
      |         sum(1 - is_core) AS n_border, count(*) AS n_pts
      |  FROM asg GROUP BY 1
      |  UNION ALL
      |  SELECT -1, 0, 0,
      |         (SELECT count(*) FROM pts) - (SELECT count(*) FROM asg))
      |SELECT CAST(cluster AS BIGINT) AS cluster,
      |       CAST(n_core AS BIGINT) AS n_core,
      |       CAST(n_border AS BIGINT) AS n_border,
      |       CAST(n_pts AS BIGINT) AS n_pts
      |FROM census ORDER BY n_pts DESC, cluster""".stripMargin

  /** K-HOP REACH census over the eps-proximity graph — the locality
    * diagnostic beside [[dbscan]]: how fast does a neighborhood grow
    * hop by hop? (The answer sizes every message-passing operator's
    * frontier — GNN sampling fan-out, gossip rounds, blast radius of
    * a bad record.) Seeds are a BOUNDED slice (id ≡ 0 mod 100);
    * breadth-first expansion runs h = 1..3 as DataFrame joins keyed
    * on the node id. r14 shape (the r13 probe's 3.0× ratio was
    * per-round plumbing, not volume — the loop re-grouped the WHOLE
    * cumulative reach set every round and localCheckpoint'd it,
    * paying ~7 jobs of fixed latency on a subcritical frontier): the
    * three hops are UNROLLED into one declarative plan — each hop's
    * frontier is deduped to distinct (seed, node) (the one
    * materialization BFS genuinely needs, or duplicate paths multiply
    * geometrically through the next join; Catalyst's ReusedExchange
    * shares each frontier's shuffle between its two consumers), and
    * min-hop resolution happens ONCE at the end (a node re-reached at
    * a later hop re-expands — wasted-but-bounded work on a
    * subcritical graph — and then folds to its min hop). Output per
    * seed: cumulative distinct reach at 1, 2, 3 hops. Scale: 3
    * key-partitioned joins against the pair list in ONE job, frontier
    * bounded by the subcritical component size — the same percolation
    * argument as [[dbscan]]; the oracle's recursive walk is
    * hop-bounded (≤ 3) rather than closure-bounded. */
  def khopReach(spark: SparkSession, dir: String): DataFrame = {
    val (pts, pairs) = epsGraph(spark, dir)
    val edges = pairs.select(col("ida").as("node"), col("idb"))
    val seeds = pts.filter(col("id") % 100 === 0)
      .select(col("id").as("seed"))
    val f0 = seeds.select(col("seed"), col("seed").as("node"))
    def expand(f: DataFrame): DataFrame =
      f.join(edges, Seq("node"))
        .select(col("seed"), col("idb").as("node")).distinct()
    val f1 = expand(f0)
    val f2 = expand(f1)
    val f3 = expand(f2)
    def tag(f: DataFrame, h: Long): DataFrame =
      f.select(col("seed"), col("node"), lit(h).as("hop"))
    val reach = tag(f0, 0L).unionByName(tag(f1, 1L))
      .unionByName(tag(f2, 2L)).unionByName(tag(f3, 3L))
      .groupBy(col("seed"), col("node")).agg(min(col("hop")).as("hop"))
    reach.groupBy(col("seed"))
      .agg(
        sum(when(col("hop") >= 1L && col("hop") <= 1L, 1L).otherwise(0L))
          .as("n_1hop"),
        sum(when(col("hop") >= 1L && col("hop") <= 2L, 1L).otherwise(0L))
          .as("n_2hop"),
        sum(when(col("hop") >= 1L, 1L).otherwise(0L)).as("n_3hop"))
      .orderBy(col("seed"))
  }

  val khopReachSql: String =
    s"""WITH RECURSIVE $epsGraphSql,
      |seeds AS (SELECT id FROM pts WHERE id % 100 = 0),
      |walk(seed, node, hop) AS (
      |  SELECT id, id, 0 FROM seeds
      |  UNION
      |  SELECT w.seed, p.idb, w.hop + 1
      |  FROM walk w JOIN pairs p ON w.node = p.ida
      |  WHERE w.hop < 3),
      |mh AS (SELECT seed, node, min(hop) AS hop FROM walk GROUP BY 1, 2)
      |SELECT CAST(seed AS BIGINT) AS seed,
      |       CAST(sum(CASE WHEN hop BETWEEN 1 AND 1 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_1hop,
      |       CAST(sum(CASE WHEN hop BETWEEN 1 AND 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_2hop,
      |       CAST(sum(CASE WHEN hop >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_3hop
      |FROM mh GROUP BY 1 ORDER BY 1""".stripMargin

  /** SEEDED BETWEENNESS CENTRALITY (Brandes, depth-3) over the
    * eps-proximity graph — WHICH nodes do shortest paths flow
    * through? The brokerage score behind bottleneck detection in
    * infrastructure graphs and influence ranking in similarity
    * graphs; exact Brandes is O(V·E) (all sources), so production
    * runs it from a SOURCE SAMPLE — here the same bounded seed slice
    * as [[khopReach]] (id ≡ 0 mod 100), depth-capped at 3 (the
    * subcritical components' effective diameter).
    *
    * Level-synchronous and fully declarative: forward BFS builds
    * per-level (seed, node, σ) path counts (σ sums over DAG
    * predecessors — the join enforces d(w) = d(v)+1 by construction);
    * the backward pass accumulates Brandes' pair dependency
    * δ(v) = Σ_w σ(v)/σ(w)·(1+δ(w)) level by level. Cross-engine
    * exactness: every fractional δ TERM quantizes ONCE to nano-units
    * before its group sum (order-free exact integers), and the next
    * level consumes the quantized value — both engines fold identical
    * longs at every level. Output: top-20 brokers.
    *
    * Scale shape: 3 key-partitioned expansion joins + 2 backward
    * joins, every frontier localCheckpoint'd once (each level has
    * 3-4 consumers — anti-joins, expansion, backward — that would
    * otherwise re-run the upstream grid join); seeds bound the work,
    * the percolation argument bounds the frontier. */
  def betweenness(spark: SparkSession, dir: String): DataFrame = {
    val (pts, pairs) = epsGraph(spark, dir)
    val edges = pairs.select(col("ida").as("u"), col("idb").as("w"))
    val seeds = pts.filter(col("id") % 100 === 0).select(col("id").as("seed"))
    // measured-tiny construction (r16): the 6 frontier checkpoints of
    // brandesSeeded ran as 53 driver jobs of 1-2 tasks × 10-70 ms
    // under AQE — fixed overhead on seed-bounded frontiers. The count
    // is a shuffle-free scan of the just-checkpointed pair blocks and
    // gates the mode off at real scale (see Graft.tiny).
    val nPairs = pairs.count()
    graft.api.Graft.scoped(spark, s"betweenness:$nPairs",
        graft.api.Graft.tiny(spark, nPairs)) { s =>
      brandesSeeded(graft.api.Graft.on(s, edges), graft.api.Graft.on(s, seeds))
    }
      .orderBy(col("bc_nano").desc, col("node"))
      .limit(20)
      .select(col("node").cast("long").as("node"),
        round(col("bc_nano").cast("double") / 1e3).cast("long")
          .as("betweenness_micro"))
  }

  /** The depth-3 seeded-Brandes core over an arbitrary SYMMETRIC edge
    * list (u, w) and seed set — factored out so the spec can pin the
    * pair-dependency arithmetic on a hand-checkable path graph.
    * Returns (node, bc_nano) for nodes with positive dependency. */
  private[graft] def brandesSeeded(edges: DataFrame, seeds: DataFrame): DataFrame = {
    val l0 = seeds.select(col("seed"), col("seed").as("node"), lit(1L).as("sigma"))
      .localCheckpoint()
    def expand(l: DataFrame, visited: Seq[DataFrame]): DataFrame = {
      val nxt = l.join(edges, col("node") === col("u"))
        .select(col("seed"), col("w").as("node"), col("sigma"))
        .groupBy(col("seed"), col("node")).agg(sum(col("sigma")).as("sigma"))
      visited.foldLeft(nxt)((acc, v) =>
        acc.join(v.select(col("seed"), col("node")), Seq("seed", "node"),
          "left_anti")).localCheckpoint()
    }
    val l1 = expand(l0, Seq(l0))
    val l2 = expand(l1, Seq(l0, l1))
    val l3 = expand(l2, Seq(l0, l1, l2))
    // backward: delta terms nano-quantized BEFORE each group sum
    def back(lv: DataFrame, lnext: DataFrame, dnext: Option[DataFrame]): DataFrame = {
      val nxt = dnext match {
        case Some(d) => lnext.join(d, Seq("seed", "node"))
        case None => lnext.withColumn("delta_nano", lit(0L))
      }
      val succ = lv.join(edges, col("node") === col("u"))
        .select(col("seed"), col("node"), col("sigma"), col("w"))
        .join(nxt.select(col("seed").as("s2"), col("node").as("n2"),
          col("sigma").as("sig2"), col("delta_nano").as("dn2")),
          col("seed") === col("s2") && col("w") === col("n2"))
        .select(col("seed"), col("node"),
          round(lit(1e9) * (col("sigma").cast("double") / col("sig2").cast("double")) *
            (lit(1.0) + col("dn2").cast("double") / lit(1e9))).cast("long").as("t"))
        .groupBy(col("seed"), col("node")).agg(sum(col("t")).as("dn"))
      lv.select(col("seed"), col("node"))
        .join(succ, Seq("seed", "node"), "left")
        .select(col("seed"), col("node"), coalesce(col("dn"), lit(0L)).as("delta_nano"))
    }
    val d2 = back(l2, l3, None).localCheckpoint()
    val d1 = back(l1, l2, Some(d2))
    d1.unionByName(d2)
      .groupBy(col("node"))
      .agg(sum(col("delta_nano").cast("decimal(38,0)")).as("bc_nano"))
      .filter(col("bc_nano") > 0)
  }

  val betweennessSql: String =
    s"""WITH $epsGraphSql,
       |seeds AS (SELECT id AS seed FROM pts WHERE id % 100 = 0),
       |l0 AS (SELECT seed, seed AS node, CAST(1 AS BIGINT) AS sigma FROM seeds),
       |l1 AS (
       |  SELECT l.seed, p.idb AS node, sum(l.sigma) AS sigma
       |  FROM l0 l JOIN pairs p ON l.node = p.ida GROUP BY 1, 2),
       |l2 AS (
       |  SELECT x.seed, x.node, x.sigma FROM (
       |    SELECT l.seed, p.idb AS node, sum(l.sigma) AS sigma
       |    FROM l1 l JOIN pairs p ON l.node = p.ida GROUP BY 1, 2) x
       |  WHERE NOT EXISTS (SELECT 1 FROM l0 v WHERE v.seed = x.seed AND v.node = x.node)
       |    AND NOT EXISTS (SELECT 1 FROM l1 v WHERE v.seed = x.seed AND v.node = x.node)),
       |l3 AS (
       |  SELECT x.seed, x.node, x.sigma FROM (
       |    SELECT l.seed, p.idb AS node, sum(l.sigma) AS sigma
       |    FROM l2 l JOIN pairs p ON l.node = p.ida GROUP BY 1, 2) x
       |  WHERE NOT EXISTS (SELECT 1 FROM l0 v WHERE v.seed = x.seed AND v.node = x.node)
       |    AND NOT EXISTS (SELECT 1 FROM l1 v WHERE v.seed = x.seed AND v.node = x.node)
       |    AND NOT EXISTS (SELECT 1 FROM l2 v WHERE v.seed = x.seed AND v.node = x.node)),
       |s32 AS (
       |  SELECT l.seed, l.node,
       |         sum(CAST(round(1e9 * (CAST(l.sigma AS DOUBLE) / CAST(n.sigma AS DOUBLE))
       |               * (1.0 + CAST(0 AS DOUBLE) / 1e9)) AS BIGINT)) AS dn
       |  FROM l2 l JOIN pairs p ON l.node = p.ida
       |  JOIN l3 n ON n.seed = l.seed AND n.node = p.idb
       |  GROUP BY 1, 2),
       |d2 AS (
       |  SELECT l.seed, l.node, coalesce(s.dn, 0) AS delta_nano
       |  FROM l2 l LEFT JOIN s32 s ON s.seed = l.seed AND s.node = l.node),
       |s21 AS (
       |  SELECT l.seed, l.node,
       |         sum(CAST(round(1e9 * (CAST(l.sigma AS DOUBLE) / CAST(n.sigma AS DOUBLE))
       |               * (1.0 + CAST(d.delta_nano AS DOUBLE) / 1e9)) AS BIGINT)) AS dn
       |  FROM l1 l JOIN pairs p ON l.node = p.ida
       |  JOIN l2 n ON n.seed = l.seed AND n.node = p.idb
       |  JOIN d2 d ON d.seed = l.seed AND d.node = p.idb
       |  GROUP BY 1, 2),
       |d1 AS (
       |  SELECT l.seed, l.node, coalesce(s.dn, 0) AS delta_nano
       |  FROM l1 l LEFT JOIN s21 s ON s.seed = l.seed AND s.node = l.node),
       |bc AS (
       |  SELECT node, sum(CAST(delta_nano AS HUGEINT)) AS bc_nano
       |  FROM (SELECT * FROM d1 UNION ALL SELECT * FROM d2)
       |  GROUP BY 1 HAVING sum(CAST(delta_nano AS HUGEINT)) > 0)
       |SELECT CAST(node AS BIGINT) AS node,
       |       CAST(round(CAST(bc_nano AS DOUBLE) / 1e3) AS BIGINT)
       |         AS betweenness_micro
       |FROM bc ORDER BY bc_nano DESC, node LIMIT 20""".stripMargin

  /** SEEDED HARMONIC CLOSENESS (depth-3) — the "how CENTRAL is this
    * node" reach-weighted companion to [[betweenness]]'s "how much
    * flows THROUGH it": C(u) = Σ_v 1/d(u,v) over the ≤3-hop
    * neighborhood (harmonic form, so disconnected pairs contribute 0
    * instead of breaking the mean — the variant that survives the
    * subcritical graph's many small components). Same bounded seed
    * slice and unrolled level-synchronous BFS as [[khopReach]] (the
    * r14 one-plan shape: per-hop distinct frontiers, ONE min-hop fold
    * at the end); per-node contributions quantize 1/d once to milli
    * (1000/500/333) so both engines sum identical longs.
    *
    * Scale: 3 key-partitioned joins in one declarative plan; seeds
    * bound the rows, the percolation argument bounds the frontier. */
  def closeness(spark: SparkSession, dir: String): DataFrame = {
    val (pts, pairs) = epsGraph(spark, dir)
    val edges = pairs.select(col("ida").as("node"), col("idb"))
    val seeds = pts.filter(col("id") % 100 === 0)
      .select(col("id").as("seed"))
    val f0 = seeds.select(col("seed"), col("seed").as("node"))
    def expand(f: DataFrame): DataFrame =
      f.join(edges, Seq("node"))
        .select(col("seed"), col("idb").as("node")).distinct()
    val f1 = expand(f0)
    val f2 = expand(f1)
    val f3 = expand(f2)
    def tag(f: DataFrame, h: Long): DataFrame =
      f.select(col("seed"), col("node"), lit(h).as("hop"))
    val reach = tag(f0, 0L).unionByName(tag(f1, 1L))
      .unionByName(tag(f2, 2L)).unionByName(tag(f3, 3L))
      .groupBy(col("seed"), col("node")).agg(min(col("hop")).as("hop"))
    reach.groupBy(col("seed"))
      .agg(sum(when(col("hop") >= 1L, 1L).otherwise(0L)).as("n_reach"),
        sum(when(col("hop") === 1L, 1000L).when(col("hop") === 2L, 500L)
          .when(col("hop") === 3L, 333L).otherwise(0L)).as("harmonic_milli"))
      .orderBy(col("seed"))
  }

  val closenessSql: String =
    s"""WITH RECURSIVE $epsGraphSql,
      |seeds AS (SELECT id FROM pts WHERE id % 100 = 0),
      |walk(seed, node, hop) AS (
      |  SELECT id, id, 0 FROM seeds
      |  UNION
      |  SELECT w.seed, p.idb, w.hop + 1
      |  FROM walk w JOIN pairs p ON w.node = p.ida
      |  WHERE w.hop < 3),
      |mh AS (SELECT seed, node, min(hop) AS hop FROM walk GROUP BY 1, 2)
      |SELECT CAST(seed AS BIGINT) AS seed,
      |       CAST(sum(CASE WHEN hop >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_reach,
      |       CAST(sum(CASE hop WHEN 1 THEN 1000 WHEN 2 THEN 500
      |                WHEN 3 THEN 333 ELSE 0 END) AS BIGINT) AS harmonic_milli
      |FROM mh GROUP BY 1 ORDER BY 1""".stripMargin

  /** GEOHASH cell census — the standard interleaved-bit spatial key
    * (the public base32 encoding behind location indexing): each
    * customer's (lat, lon) quantizes to 15 integer bits per axis
    * (EXACT integer arithmetic — the coordinates are 2-decimal by
    * construction, so centi-degrees are integers and the bit value is
    * one integer multiply + div, never a float), the 30 bits
    * interleave lon-first, and the 6-char base32 string is a
    * substring lookup per 5-bit group. The census reports the top-20
    * densest cells with the DECODED cell-center (de-interleave → bit
    * reversal → exact milli-degrees) — encode/decode roundtrip proof
    * in the result itself.
    *
    * Scale: map-only encode (pure bit arithmetic, codegen-friendly),
    * one compact-key census agg — the [[cellCensus]] shape with a
    * portable key. */
  def geohash(spark: SparkSession, dir: String): DataFrame = {
    val a = "0123456789bcdefghjkmnpqrstuvwxyz"
    val enc = Tables.customer(spark, dir).select(
      col("c_custkey").as("id"),
      (pmod(col("c_custkey") * 37, lit(12000)) + lit(3000)).as("latc9"),
      pmod(col("c_custkey") * 91, lit(36000)).as("lonc18"))
      // 15-bit axis values: (centi + offset) * 2^15 div span — exact
      .withColumn("latb", expr("(latc9 * 32768) div 18000"))
      .withColumn("lonb", expr("(lonc18 * 32768) div 36000"))
      .withColumn("v",
        (0 until 15).map(j =>
          (shiftright(col("lonb"), j) % 2) * lit(1L << (2 * j + 1)) +
            (shiftright(col("latb"), j) % 2) * lit(1L << (2 * j)))
          .reduce(_ + _))
      .withColumn("gh", concat((0 until 6).map(k =>
        expr(s"substring('$a', CAST((v div ${1L << (25 - 5 * k)}) % 32 AS INT) + 1, 1)")): _*))
    enc.groupBy(col("gh")).agg(count(lit(1)).as("n_customers"),
        max(col("v")).as("v"))
      // decode the cell center back out of the interleaved bits
      .withColumn("latb", (0 until 15).map(j =>
        (shiftright(col("v"), 2 * j) % 2) * lit(1L << j)).reduce(_ + _))
      .withColumn("lonb", (0 until 15).map(j =>
        (shiftright(col("v"), 2 * j + 1) % 2) * lit(1L << j)).reduce(_ + _))
      .select(col("gh").as("geohash"), col("n_customers"),
        (expr("((2 * latb + 1) * 180000) div 65536") - lit(90000L))
          .cast("long").as("center_lat_milli"),
        (expr("((2 * lonb + 1) * 360000) div 65536") - lit(180000L))
          .cast("long").as("center_lon_milli"))
      .orderBy(col("n_customers").desc, col("geohash"))
      .limit(20)
  }

  val geohashSql: String = {
    val a = "0123456789bcdefghjkmnpqrstuvwxyz"
    val inter = (0 until 15).map(j =>
      s"((lonb >> $j) & 1) * ${1L << (2 * j + 1)} + ((latb >> $j) & 1) * ${1L << (2 * j)}")
      .mkString(" + ")
    val chars = (0 until 6).map(k =>
      s"substr('$a', CAST((v // ${1L << (25 - 5 * k)}) % 32 AS INT) + 1, 1)")
      .mkString(" || ")
    val deLat = (0 until 15).map(j => s"((v >> ${2 * j}) & 1) * ${1L << j}").mkString(" + ")
    val deLon = (0 until 15).map(j => s"((v >> ${2 * j + 1}) & 1) * ${1L << j}").mkString(" + ")
    s"""WITH axes AS (
      |  SELECT c_custkey AS id,
      |         ((c_custkey * 37) % 12000 + 3000) * 32768 // 18000 AS latb,
      |         ((c_custkey * 91) % 36000) * 32768 // 36000 AS lonb
      |  FROM customer),
      |iv AS (SELECT id, $inter AS v FROM axes),
      |enc AS (SELECT id, v, $chars AS gh FROM iv),
      |census AS (
      |  SELECT gh, count(*) AS n_customers, max(v) AS v
      |  FROM enc GROUP BY 1),
      |dec_ AS (SELECT gh, n_customers, $deLat AS latb, $deLon AS lonb FROM census)
      |SELECT gh AS geohash, CAST(n_customers AS BIGINT) AS n_customers,
      |       CAST(((2 * latb + 1) * 180000) // 65536 - 90000 AS BIGINT)
      |         AS center_lat_milli,
      |       CAST(((2 * lonb + 1) * 360000) // 65536 - 180000 AS BIGINT)
      |         AS center_lon_milli
      |FROM dec_ ORDER BY n_customers DESC, geohash LIMIT 20""".stripMargin
  }

  /** NEIGHBORHOOD FUNCTION + EFFECTIVE DIAMETER (sampled-source,
    * depth-4) — the global "how far apart is everything" census
    * behind small-world claims and gossip-round sizing: N(h) =
    * #{(u,v): d(u,v) ≤ h} estimated from the uniform 1% source slice
    * (id ≡ 0 mod 100 — the [[khopReach]]/[[closeness]] seed family),
    * effective diameter = first h where N(h) ≥ 90% of N(h_max).
    * SAMPLED BY DESIGN, not as a shortcut: exact all-sources ANF is
    * what HyperANF exists to avoid — and the measured reason lives in
    * SCALE.md: on the replica corpus the all-sources pair mass grew
    * 60× per 10× nodes (replica copies land at fixed coordinate
    * offsets, inflating eps-degree ~6×), 197 s at ~sf1 for a
    * diagnostic census. Per-source ball sizes are the same either
    * way; a uniform source sample estimates the SHARE curve (what the
    * diameter reads) with √(1/sources) error, exactly the HyperANF
    * trade. At 100 TB the sample stays fixed-size while per-node
    * distinct-count registers (the engine's HLL) replace exact balls.
    *
    * Exactness: N(h) over the sampled sources is an exact pair
    * count in both engines; the 90% flag compares cross-multiplied
    * integers (10·N(h) vs 9·N(4)), no division. Scale: 4
    * key-partitioned joins; frontier mass = sources × ball size. */
  def effDiameter(spark: SparkSession, dir: String): DataFrame = {
    val (pts, pairs) = epsGraph(spark, dir)
    val edges = pairs.select(col("ida").as("node"), col("idb"))
    val f0 = pts.filter(col("id") % 100 === 0)
      .select(col("id").as("seed"), col("id").as("node"))
    def expand(f: DataFrame): DataFrame =
      f.join(edges, Seq("node"))
        .select(col("seed"), col("idb").as("node")).distinct()
    val f1 = expand(f0)
    val f2 = expand(f1)
    val f3 = expand(f2)
    val f4 = expand(f3)
    def tag(f: DataFrame, h: Long): DataFrame =
      f.select(col("seed"), col("node"), lit(h).as("hop"))
    val reach = tag(f0, 0L).unionByName(tag(f1, 1L)).unionByName(tag(f2, 2L))
      .unionByName(tag(f3, 3L)).unionByName(tag(f4, 4L))
      .groupBy(col("seed"), col("node")).agg(min(col("hop")).as("hop"))
    val byHop = reach.groupBy(col("hop")).agg(count(lit(1)).as("d"))
    val cum = Window.orderBy(col("hop"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byHop
      .withColumn("n_pairs", sum(col("d")).over(cum))
      .withColumn("n_max", sum(col("d")).over(Window.partitionBy()))
      .select(col("hop"), col("n_pairs"),
        // integer division (matches the oracle's `//`): a double
        // quotient can truncate one below on exact boundaries
        expr("(n_pairs * 1000000) div n_max").as("share_ppm"),
        (col("n_pairs") * 10L >= col("n_max") * 9L &&
          lag(col("n_pairs") * 10L >= col("n_max") * 9L, 1, false)
            .over(Window.orderBy(col("hop"))) === false)
          .as("is_effective_diameter"))
      .orderBy(col("hop"))
  }

  val effDiameterSql: String =
    s"""WITH RECURSIVE $epsGraphSql,
      |walk(seed, node, hop) AS (
      |  SELECT id, id, 0 FROM pts WHERE id % 100 = 0
      |  UNION
      |  SELECT w.seed, p.idb, w.hop + 1
      |  FROM walk w JOIN pairs p ON w.node = p.ida
      |  WHERE w.hop < 4),
      |mh AS (SELECT seed, node, min(hop) AS hop FROM walk GROUP BY 1, 2),
      |byhop AS (SELECT hop, count(*) AS d FROM mh GROUP BY 1),
      |cumed AS (
      |  SELECT hop,
      |         sum(d) OVER (ORDER BY hop ROWS UNBOUNDED PRECEDING) AS n_pairs,
      |         sum(d) OVER () AS n_max
      |  FROM byhop)
      |SELECT CAST(hop AS BIGINT) AS hop, CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(n_pairs * 1000000 // n_max AS BIGINT) AS share_ppm,
      |       (n_pairs * 10 >= n_max * 9 AND NOT coalesce(
      |          lag(n_pairs * 10 >= n_max * 9) OVER (ORDER BY hop), FALSE))
      |         AS is_effective_diameter
      |FROM cumed ORDER BY hop""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_eff_diameter" -> (effDiameter _),
    "graph_closeness" -> (closeness _),
    "geo_geohash" -> (geohash _),
    "graph_betweenness" -> (betweenness _),
    "graph_khop_reach" -> (khopReach _),
    "geo_dbscan" -> (dbscan _),
    "geo_point_in_polygon" -> (pointInPolygon _),
    "geo_nearest" -> (nearest _),
    "geo_radius_join" -> (radiusJoin _),
    "geo_cell_census" -> (cellCensus _)
  )

  def oracle: Map[String, String] = Map(
    "graph_eff_diameter" -> effDiameterSql,
    "graph_closeness" -> closenessSql,
    "geo_geohash" -> geohashSql,
    "graph_betweenness" -> betweennessSql,
    "graph_khop_reach" -> khopReachSql,
    "geo_dbscan" -> dbscanSql,
    "geo_point_in_polygon" -> pointInPolygonSql,
    "geo_nearest" -> nearestSql,
    "geo_radius_join" -> radiusJoinSql,
    "geo_cell_census" -> cellCensusSql
  )
}
