package graft.operators

import scala.util.DynamicVariable

import graft.Tables
import graft.api.Graft
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over data-derived graphs — the iterative
  * message-passing pattern (the same distributed fixpoint family as
  * `Graft.connectedComponents`, with weighted propagation instead of
  * min-label). The graph here is the event-type transition graph:
  * per user, consecutive events (ordered by ts, event_id — the same
  * deterministic ordering contract as `WarehouseEtl`) define a
  * weighted edge prev_type → type.
  *
  * Scale shape: edge EXTRACTION is the data-sized stage — one key
  * shuffle + per-user lag window, linear in events; the aggregated
  * edge list is |types|² (a broadcast-class artifact), so the
  * PageRank iterations cost nothing at any corpus size. On a graph
  * whose EDGE LIST is itself huge (the kNN graph), the same loop
  * runs with the scores table shuffled per round — the iteration
  * structure is unchanged, which is the point of writing it as
  * DataFrame joins rather than a driver-side loop over collected
  * edges.
  */
object GraphOps {

  /** Measured edge rows at or below which [[pagerank]],
    * [[personalizedPagerank]] and [[hits]] fold their rounds into the
    * consumer's one plan; above it every round is materialized. The
    * bound is the largest edge list timed both ways: 3 pagerank rounds
    * on 4 cores folded faster at every size tried, from kNN graphs of
    * 10,000 and 100,000 edges (−7%, −14%) to random graphs of 1M, 4M
    * and 8M edges (−39%, −16%, −31%; docs/SCALE.md). Above it the
    * loops keep a job per round, untimed. A spec rebinds it to force
    * a side. */
  private[graft] val foldRows = new DynamicVariable[Long](1L << 23)

  /** [[Graft.materialize]] with the jobs tagged `iter:<op> round=<r>`,
    * plus `rows=<n>` once the loop has measured its input. */
  private def iterRound(op: String, round: Int, rows: Option[Long],
                        df: DataFrame): (DataFrame, Long) =
    Graft.tagged(df.sparkSession,
        s"iter:$op round=$round" + rows.fold("")(n => s" rows=$n"))(Graft.materialize(df))

  /** The rank loops' round policy for an edge list that measured
    * `rows`: at or below [[foldRows]] a round stays folded into the
    * consumer's plan, above it round r is materialized. */
  private def roundKeeper(op: String, rows: Long): (Int, DataFrame) => DataFrame =
    if (rows <= foldRows.value) (_, df) => df
    else (r, df) => iterRound(op, r, Some(rows), df)._1

  /** Generic damped PageRank over ANY weighted edge DataFrame
    * (columns src, dst, w) — the public iteration loop. Scores are
    * integer micro-units between rounds (see [[pagerankTypes]] for
    * the parity argument). The edge list is checkpointed and measured
    * in one job. A graph that measures at most [[foldRows]] edges
    * (the |types|² transition graph, the kNN graphs) folds every round
    * into the consumer's single job: per-round jobs cost more than
    * they save (r15: 2.6 s of construction for a 25-row graph; a job
    * per round measured slower up to 8M edges). A larger one
    * materializes each round, so round r+1 plans against a leaf
    * instead of re-deriving rounds 1..r (the
    * CC-fixpoint lesson; a 100 TB deployment points `setCheckpointDir`
    * at durable storage and uses `checkpoint()` — same structure,
    * executor-loss safe). On a huge edge list every round is one join
    * keyed on src + one agg keyed on dst — two shuffles per iteration,
    * the canonical distributed message-passing cost. */
  def pagerank(edges: DataFrame, iterations: Int = 3, damping: Double = 0.85): DataFrame =
    rank("pagerank", edges, None, iterations, damping)

  /** The loop [[pagerank]] (`seed` None: uniform teleport over the n
    * nodes) and [[personalizedPagerank]] (teleport mass on the seed)
    * share; only the seed vector and the teleport term differ. */
  private def rank(op: String, edges: DataFrame, seed: Option[String],
                   iterations: Int, damping: Double): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"$op: iterations $iterations")
    // parity-by-construction: damping is quantized to an integer
    // micro-unit ONCE, and both the teleport term and the damping
    // factor derive from it — (1e6 - d)/n and d/1e6 are the exact
    // double ops the oracle replays with the same integer, whereas
    // double(1 - 0.85) differs from double(0.15) by 1 ulp and would
    // leave chained-round() agreement to luck near .5 boundaries
    val dMicro = math.round(damping * 1e6)
    // the caller's edge extraction runs exactly ONCE: linked, nodes and
    // n all branch from it (for the transition graph: a per-user window
    // over all events — unchecked, it ran 3x per call, r15 measured)
    val (e, rows) = iterRound(op, 0, None, edges)
    val keep = roundKeeper(op, rows)
    val outdeg = e.groupBy(col("src")).agg(sum(col("w")).as("outdeg"))
    val linked = keep(0, e.join(outdeg, "src"))
    val nodes0 = e.select(col("src").as("node")).union(e.select(col("dst"))).distinct()
    // the uniform teleport needs n, so its nodes are always measured;
    // a seeded run needs no n and keeps its nodes like a round
    lazy val measured = iterRound(op, 0, Some(rows), nodes0)
    val nodes = if (seed.isEmpty) measured._1 else keep(0, nodes0)
    lazy val n = measured._2
    val onSeed = seed.map(col("node") === _)
    var scores = nodes.withColumn("score_micro",
      onSeed.fold(lit(math.round(1e6 / n)))(when(_, lit(1000000L)).otherwise(lit(0L))))
    // uniform: one rounding of teleport/n + damped sum; seeded: the
    // integer teleport (exact, |seeds| = 1) plus the rounded damped sum
    def update(in: Column): Column = onSeed match {
      case None =>
        round(lit((1e6.toLong - dMicro).toDouble / n) + lit(dMicro.toDouble / 1e6) * in)
          .cast("long")
      case Some(isSeed) =>
        when(isSeed, lit(1000000L - dMicro)).otherwise(lit(0L)) +
          round(lit(dMicro.toDouble / 1e6) * in).cast("long")
    }
    (1 to iterations).foreach { r =>
      val contrib = linked
        .join(scores.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          // through double BEFORE the multiply: a long×long product
          // silently wraps in Spark at large edge weights while
          // DuckDB's BIGINT product overflow-checks — double×long is
          // the same op (and the same value ≤ 2^53) on both engines
          round(col("score_micro").cast("double") * col("w") / col("outdeg"))
            .cast("long").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("in_micro"))
      val next = nodes.join(contrib, Seq("node"), "left")
        .select(col("node"), update(coalesce(col("in_micro"), lit(0L))).as("score_micro"))
      scores = keep(r, next)
    }
    scores.orderBy(col("score_micro").desc, col("node"))
  }

  /** The event-type transition graph: per user, consecutive events
    * (ts, event_id order) give a weighted edge prev_type → type. */
  private def transitions(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(order))
      .where(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
      // the aggregated edge list is |types|² (~25 rows): run the
      // iterations single-partition so each round is one task, not
      // 32 empty ones — the generic loops honor the caller's
      // partitioning, and THIS caller knows its graph is tiny (the
      // kNN-graph probe passes a data-sized, many-partition list)
      .coalesce(1)
  }

  /** PageRank (damping 0.85, 3 synchronous iterations from uniform)
    * over the event-type transition graph.
    *
    * Engine parity: scores live as integer MICRO-units between
    * iterations. Each edge contribution rounds
    * score·w/outdeg once (the only division), then contributions sum
    * as exact BIGINTs — summation order can't move the result — and
    * the damped update rounds once more: round(0.15·1e6/N + 0.85·Σ).
    * Both engines execute the identical double ops on identical
    * integer inputs, so three chained iterations stay bit-equal
    * (free-floating iterated doubles would drift at the 4th decimal
    * by round two). */
  def pagerankTypes(spark: SparkSession, dir: String): DataFrame =
    pagerank(transitions(spark, dir), iterations = 3, damping = 0.85)
      .select(col("node").as("event_type"), col("score_micro"))

  // one iteration as SQL, chained three times with the same constants
  // derived from the SAME micro-integer (850000) the Spark loop
  // quantizes damping to — see pagerank's parity note
  private def iterSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT n.node,
       |         CAST(round((1e6 - 850000) / (SELECT cnt FROM nn)
       |               + (850000 / 1e6) * coalesce(c.in_micro, 0)) AS BIGINT) AS score_micro
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node,
       |           CAST(sum(CAST(round(CAST(s.score_micro AS DOUBLE) * e.w / o.outdeg) AS BIGINT)) AS BIGINT) AS in_micro
       |    FROM edges e JOIN outdeg o ON e.src = o.src
       |                 JOIN $prev s ON s.node = e.src
       |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin

  val pagerankTypesSql: String =
    s"""WITH ordered AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |edges AS (
       |  SELECT prev AS src, event_type AS dst, count(*) AS w
       |  FROM ordered WHERE prev IS NOT NULL GROUP BY 1, 2),
       |outdeg AS (SELECT src, sum(w) AS outdeg FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |nn AS (SELECT count(*) AS cnt FROM nodes),
       |s0 AS (SELECT node, CAST(round(1e6 / (SELECT cnt FROM nn)) AS BIGINT) AS score_micro
       |       FROM nodes),
       |${iterSql("s0", "s1")},
       |${iterSql("s1", "s2")},
       |${iterSql("s2", "s3")}
       |SELECT node AS event_type, score_micro FROM s3
       |ORDER BY score_micro DESC, event_type""".stripMargin

  /** PERSONALIZED PageRank — the restart-vector variant that turns
    * the global centrality into a "what is relevant FROM HERE"
    * serving primitive (seeded recommendations, related-item
    * expansion, topic-sensitive ranking): the teleport mass lands on
    * the SEED set instead of uniformly (score⁰ likewise), so the
    * stationary distribution concentrates around the seeds' outbound
    * neighborhoods. Seeded here at `purchase` on the event-type
    * transition graph — "which event types does the purchase state
    * feed, discounted by walk length". Identical micro-integer
    * parity discipline to [[pagerank]] (one rounded division per
    * edge contribution, exact BIGINT sums, one rounded damped
    * update; the teleport CASE is integer-exact because |seeds| = 1),
    * identical chained-CTE oracle unroll, identical two-shuffles-per-
    * round scale shape on a data-sized graph — and unlike the global
    * variant, NO 1/N term exists, so disconnected regions correctly
    * decay to zero instead of receiving background mass. */
  def personalizedPagerank(edges: DataFrame, seed: String,
      iterations: Int = 3, damping: Double = 0.85): DataFrame =
    rank("ppr", edges, Some(seed), iterations, damping)

  def pprTypes(spark: SparkSession, dir: String): DataFrame =
    personalizedPagerank(transitions(spark, dir), seed = "purchase", iterations = 3,
        damping = 0.85)
      .select(col("node").as("event_type"), col("score_micro"))

  private def pprIterSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT n.node,
       |         CAST(CASE WHEN n.node = 'purchase' THEN 1000000 - 850000 ELSE 0 END
       |              + CAST(round((850000 / 1e6) * coalesce(c.in_micro, 0)) AS BIGINT)
       |              AS BIGINT) AS score_micro
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst AS node,
       |           CAST(sum(CAST(round(CAST(s.score_micro AS DOUBLE) * e.w / o.outdeg) AS BIGINT)) AS BIGINT) AS in_micro
       |    FROM edges e JOIN outdeg o ON e.src = o.src
       |                 JOIN $prev s ON s.node = e.src
       |    GROUP BY e.dst) c ON n.node = c.node)""".stripMargin

  val pprTypesSql: String =
    s"""WITH ordered AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |edges AS (
       |  SELECT prev AS src, event_type AS dst, count(*) AS w
       |  FROM ordered WHERE prev IS NOT NULL GROUP BY 1, 2),
       |outdeg AS (SELECT src, sum(w) AS outdeg FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |s0 AS (SELECT node,
       |              CAST(CASE WHEN node = 'purchase' THEN 1000000 ELSE 0 END AS BIGINT)
       |                AS score_micro FROM nodes),
       |${pprIterSql("s0", "s1")},
       |${pprIterSql("s1", "s2")},
       |${pprIterSql("s2", "s3")}
       |SELECT node AS event_type, score_micro FROM s3
       |ORDER BY score_micro DESC, event_type""".stripMargin

  /** The fuzzy-match name graph: [[Joins.fuzzyBlockedJoin]] pairs as
    * undirected (a, b) edges, canonical a < b. */
  private def nameEdges(spark: SparkSession, dir: String): DataFrame =
    Joins.fuzzyBlockedJoin(spark, dir).select(col("name_a").as("a"), col("name_b").as("b"))

  /** Triangle count + global clustering coefficient over the
    * fuzzy-match name graph ([[Joins.fuzzyBlockedJoin]] pairs as
    * undirected edges, already canonical a<b). The standard two-join
    * enumeration with every wedge closed in canonical order — each
    * triangle {a<b<c} is counted exactly once as e(a,b)⋈e(b,c)⋈e(a,c),
    * so no ÷6 correction and no orientation bookkeeping.
    *
    * Scale shape: the joins are equi joins on node ids; at real edge
    * counts the canonical a<b orientation IS the degree-ordering
    * trick that keeps wedge fan-out bounded by the smaller-endpoint
    * degree. Wedges and the coefficient are exact integer arithmetic
    * (micro-units for the ratio). */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    // materialize the fuzzy edge list ONCE (same checkpoint discipline
    // as connectedComponents' symmetric edge list): five consumers
    // reference it (e1/e2/e3 of the wedge-closing joins, the degree
    // census, the edge count), and their differing join keys demand
    // different exchanges, so Catalyst cannot ReusedExchange them —
    // unchecked, the blocked levenshtein verify re-ran per consumer
    // (the r11→r12 graph_triangles drift the r12 verdict flagged)
    val e = nameEdges(spark, dir).localCheckpoint()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val deg = e.select(col("a").as("node")).union(e.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val wedges = deg.agg(sum(expr("(d * (d - 1)) DIV 2")).as("n_wedges"))
    val edges = e.agg(count(lit(1)).as("n_edges"))
    tri.crossJoin(edges).crossJoin(wedges)
      .select(col("n_triangles"), col("n_edges"), col("n_wedges"),
        round(lit(3.0) * lit(1e6) * col("n_triangles") / col("n_wedges"))
          .cast("long").as("clustering_micro"))
  }

  val trianglesSql: String =
    """WITH names AS (
      |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
      |  FROM part GROUP BY p_name),
      |e AS (
      |  SELECT a.name AS a, b.name AS b
      |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
      |  WHERE levenshtein(a.name, b.name) <= 3),
      |tri AS (
      |  SELECT count(*) AS n_triangles
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |deg AS (
      |  SELECT node, count(*) AS d
      |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1),
      |w AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
      |ne AS (SELECT count(*) AS n_edges FROM e)
      |SELECT n_triangles, n_edges, n_wedges,
      |       CAST(round(3.0 * 1e6 * n_triangles / n_wedges) AS BIGINT) AS clustering_micro
      |FROM tri CROSS JOIN ne CROSS JOIN w""".stripMargin

  /** LOCAL clustering-coefficient census over the fuzzy-name graph —
    * the per-node companion to [[triangles]]'s GLOBAL coefficient
    * (watts–strogatz form: c(v) = 2·t(v)/(d(v)·(d(v)−1))). Each
    * canonical triangle {a<b<c} from the same two-join enumeration is
    * credited to ALL THREE corners (one explode-free triple
    * projection), per-node counts meet the degree census on the node
    * key, and the output folds into 11 coefficient deciles (bucket =
    * floor(c·10), the c=1 clique corner landing in its own bucket) —
    * a bounded, tie-proof census rather than a name-ordered top-k.
    *
    * Scale shape: the triangle joins are the bounded-fan-out
    * canonical-orientation joins [[triangles]] already pays; the
    * corner credit is a 3× projection of the TRIANGLE list (≪ edge
    * list); census is one agg on an 11-value key. Exact integer
    * micro-units end-to-end. */
  def clusteringCoeff(spark: SparkSession, dir: String): DataFrame = {
    val e = nameEdges(spark, dir).localCheckpoint()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val corners = tri.select(col("x").as("node"))
      .unionAll(tri.select(col("y").as("node")))
      .unionAll(tri.select(col("z").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("t"))
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("d"), coalesce(col("t"), lit(0L)).as("t"))
      .withColumn("coeff_micro",
        when(col("d") < 2, lit(0L)).otherwise(
          round(lit(2.0) * lit(1e6) * col("t") / (col("d") * (col("d") - 1)))
            .cast("long")))
      .groupBy(expr("coeff_micro * 10 DIV 1000000").as("decile"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("t")).as("sum_triangles"),
        sum(col("d")).as("sum_degree"))
      .orderBy(col("decile"))
  }

  val clusteringCoeffSql: String =
    """WITH names AS (
      |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
      |  FROM part GROUP BY p_name),
      |e AS (
      |  SELECT a.name AS a, b.name AS b
      |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
      |  WHERE levenshtein(a.name, b.name) <= 3),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |corners AS (
      |  SELECT node, count(*) AS t
      |  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri)
      |  GROUP BY 1),
      |deg AS (
      |  SELECT node, count(*) AS d
      |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY 1),
      |pernode AS (
      |  SELECT deg.node, deg.d, coalesce(corners.t, 0) AS t,
      |         CASE WHEN deg.d < 2 THEN 0
      |              ELSE CAST(round(2.0 * 1e6 * coalesce(corners.t, 0)
      |                              / (deg.d * (deg.d - 1))) AS BIGINT)
      |         END AS coeff_micro
      |  FROM deg LEFT JOIN corners ON deg.node = corners.node)
      |SELECT CAST(coeff_micro * 10 // 1000000 AS BIGINT) AS decile,
      |       count(*) AS n_nodes,
      |       CAST(sum(t) AS BIGINT) AS sum_triangles,
      |       CAST(sum(d) AS BIGINT) AS sum_degree
      |FROM pernode GROUP BY 1 ORDER BY decile""".stripMargin

  /** EDGE-SUPPORT (embeddedness) census over the fuzzy-name graph —
    * the edge-level companion to [[triangles]]/[[clusteringCoeff]]:
    * an edge's support is the number of triangles it closes, the
    * quantity k-truss decomposition peels on and the classic
    * weak-tie/local-bridge detector (support 0 = its endpoints share
    * no neighbor — removing it lengthens every path between them).
    * Each canonical triangle {x<y<z} contributes its three edges
    * (x,y), (y,z), (x,z); a left join back to the edge list keeps the
    * support-0 edges the triangle list never mentions; the output is
    * the bounded (support → n_edges) histogram.
    *
    * Scale shape: the same bounded-fan-out triangle enumeration the
    * siblings pay, a 3× projection of the TRIANGLE list, one equi
    * join on the canonical edge key, one compact-key agg. */
  def edgeSupport(spark: SparkSession, dir: String): DataFrame = {
    val e = nameEdges(spark, dir).localCheckpoint()
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    val triEdges = tri.select(col("x").as("a"), col("y").as("b"))
      .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
      .unionAll(tri.select(col("x").as("a"), col("z").as("b")))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    e.join(triEdges, Seq("a", "b"), "left")
      .select(coalesce(col("support"), lit(0L)).as("support"))
      .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
      .orderBy(col("support"))
  }

  val edgeSupportSql: String =
    """WITH names AS (
      |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
      |  FROM part GROUP BY p_name),
      |e AS (
      |  SELECT a.name AS a, b.name AS b
      |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
      |  WHERE levenshtein(a.name, b.name) <= 3),
      |tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e1.b = e2.a
      |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      |te AS (
      |  SELECT a, b, count(*) AS support
      |  FROM (SELECT x AS a, y AS b FROM tri
      |        UNION ALL SELECT y, z FROM tri
      |        UNION ALL SELECT x, z FROM tri)
      |  GROUP BY 1, 2)
      |SELECT coalesce(te.support, 0) AS support, count(*) AS n_edges
      |FROM e LEFT JOIN te USING (a, b)
      |GROUP BY 1 ORDER BY support""".stripMargin

  /** EDGE RECIPROCITY of the directed event-type transition graph —
    * how often does u→v traffic come back as v→u? Both the standard
    * unweighted form (fraction of directed non-loop edges whose
    * reverse edge exists) and the weighted form (Σ min(w(u,v), w(v,u))
    * / Σ w — the overlap of the flow matrix with its transpose). A
    * one-row health census for interaction graphs: near-0 =
    * broadcast/funnel structure, near-1 = conversational structure.
    *
    * Scale shape: edge extraction is the same lag-window pass every
    * transition operator pays; the reciprocity meet is a self
    * equi-join of the AGGREGATED edge list (|types|² bound — a
    * broadcast-class artifact) on the reversed key. Exact integers;
    * the two ratios round once each into micro-units. */
  def reciprocity(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("event_type"))
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("w"))
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"),
      col("w").as("w_rev"))
    edges.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("w_rev").isNotNull, 1L).otherwise(0L)).as("n_recip_edges"),
        sum(col("w")).as("w_total"),
        sum(least(col("w"), coalesce(col("w_rev"), lit(0L)))).as("w_recip"))
      .select(col("n_edges"), col("n_recip_edges"),
        round(lit(1e6) * col("n_recip_edges") / col("n_edges")).cast("long")
          .as("recip_micro"),
        col("w_total"), col("w_recip"),
        round(lit(1e6) * col("w_recip") / col("w_total")).cast("long")
          .as("w_recip_micro"))
  }

  val reciprocitySql: String =
    """WITH ordered AS (
      |  SELECT user_id, event_type,
      |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |           AS prev
      |  FROM events),
      |edges AS (
      |  SELECT prev AS src, event_type AS dst, count(*) AS w
      |  FROM ordered WHERE prev IS NOT NULL AND prev <> event_type
      |  GROUP BY 1, 2),
      |met AS (
      |  SELECT e.src, e.dst, e.w, r.w AS w_rev
      |  FROM edges e LEFT JOIN edges r ON r.src = e.dst AND r.dst = e.src)
      |SELECT count(*) AS n_edges,
      |       CAST(sum(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_recip_edges,
      |       CAST(round(1e6 * sum(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END)
      |                  / count(*)) AS BIGINT) AS recip_micro,
      |       CAST(sum(w) AS BIGINT) AS w_total,
      |       CAST(sum(least(w, coalesce(w_rev, 0))) AS BIGINT) AS w_recip,
      |       CAST(round(1e6 * sum(least(w, coalesce(w_rev, 0))) / sum(w))
      |         AS BIGINT) AS w_recip_micro
      |FROM met""".stripMargin

  /** k-CORE decomposition (k=2, synchronous peel TO THE FIXPOINT)
    * over the fuzzy-name graph — the density filter that strips
    * pendant chains/leaves before community or influence analysis (a
    * node survives iff it keeps ≥ k neighbors that themselves
    * survive). Asynchronous peeling is visit-order-dependent; this is
    * the SYNCHRONOUS variant (all sub-k nodes drop together each
    * round), which is deterministic and therefore oracle-replayable.
    * The engine peels until a round drops no edges (the true 2-core),
    * with [[kCoreMaxRounds]] as a bounded-round cap — exceeding it
    * raises rather than silently returning a partial peel (the
    * round-8 fixed-4-round variant could retain non-core nodes on
    * slow-converging chains). Oracle parity: peeling is IDEMPOTENT at
    * the fixpoint (once every degree is ≥ k, a further round is the
    * identity), so the oracle unrolls the full cap as chained CTEs
    * and — given the engine's convergence assertion — both sides
    * equal the converged core. Each round is one degree count + two
    * semi joins on node ids (equi, broadcastable survivor list), run
    * by [[peel]]. At 100 TB the cap bounds total work at
    * rounds × O(E) — and 2-core peeling
    * converges in few rounds on power-law graphs (chains are the
    * worst case, same as CC pointer jumping). */
  private val kCoreK = 2
  private val kCoreMaxRounds = 12

  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val e = kCorePeel(nameEdges(spark, dir), kCoreMaxRounds)
    e.select(col("a").as("node")).union(e.select(col("b")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .orderBy(col("node"))
  }

  /** The converged [[kCoreK]]-core of an (a, b) edge list. */
  private[graft] def kCorePeel(edges: DataFrame, maxRounds: Int): DataFrame =
    peel("kCore", edges, maxRounds) { e =>
      val keep = e.select(col("a").as("node")).union(e.select(col("b")))
        .groupBy(col("node")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= kCoreK).select(col("node"))
      e.join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
    }

  /** Peels `edges` to a fixpoint, the loop [[kCore]] and [[kTruss]]
    * share. Each round checkpoints `step` of the previous round's
    * edges and counts them in one job (after the shuffle-stage jobs
    * its plan needs); a round that keeps every row has converged, and
    * an empty edge set is a fixpoint too. Round r's jobs are tagged
    * `iter:<op> round=<r> rows=<its input rows>`; round 0 measures
    * the input. Raises when `maxRounds` rounds end neither way — a
    * partial peel is not the decomposition. */
  private def peel(op: String, edges: DataFrame, maxRounds: Int)
                  (step: DataFrame => DataFrame): DataFrame = {
    var (e, rows) = iterRound(op, 0, None, edges)
    var converged = false
    var round = 0
    while (!converged && rows > 0 && round < maxRounds) {
      round += 1
      val (next, left) = iterRound(op, round, Some(rows), step(e))
      converged = left == rows
      e = next
      rows = left
    }
    require(converged || rows == 0L,
      s"$op: no fixpoint within $maxRounds rounds ($rows edges left)")
    e
  }

  // every per-round CTE is MATERIALIZED: with the default inlining,
  // round r's plan embeds rounds 1..r-1 (the exact lineage blow-up
  // localCheckpoint truncates on the engine side) and 12 unrolled
  // rounds re-open the part scan enough times to exhaust file handles
  val kCoreSql: String = {
    val rounds = (1 to kCoreMaxRounds).map { r =>
      s"""d$r AS MATERIALIZED (
         |  SELECT node, count(*) AS d
         |  FROM (SELECT a AS node FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
         |  GROUP BY 1),
         |k$r AS MATERIALIZED (SELECT node FROM d$r WHERE d >= $kCoreK),
         |e$r AS MATERIALIZED (
         |  SELECT a, b FROM e${r - 1}
         |  WHERE a IN (SELECT node FROM k$r) AND b IN (SELECT node FROM k$r))""".stripMargin
    }.mkString(",\n")
    s"""WITH names AS MATERIALIZED (
       |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
       |  FROM part GROUP BY p_name),
       |e0 AS MATERIALIZED (
       |  SELECT a.name AS a, b.name AS b
       |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= 3),
       |$rounds
       |SELECT node, count(*) AS degree
       |FROM (SELECT a AS node FROM e$kCoreMaxRounds UNION ALL SELECT b FROM e$kCoreMaxRounds)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** k-TRUSS decomposition (k=4, synchronous peel TO THE FIXPOINT)
    * over the fuzzy-name graph — the cohesion family's completion
    * beside [[kCore]] (r15 verdict #6): where the 2-core demands each
    * node keep ≥2 surviving NEIGHBORS, the 4-truss demands each EDGE
    * keep ≥ k−2 = 2 surviving TRIANGLES — the standard community-core
    * primitive (truss ⊆ core, pinned by spec). Each round recomputes
    * every edge's support (triangle count) within the CURRENT
    * subgraph — the same x<y<z oriented enumeration
    * [[edgeSupport]] censuses, each triangle found exactly once —
    * and drops all under-supported edges TOGETHER (synchronous =
    * visit-order-free = deterministic = oracle-replayable;
    * asynchronous peeling is order-dependent). Converges when a
    * round drops nothing; [[trussMaxRounds]] caps the work and the
    * engine RAISES on non-convergence rather than returning a
    * partial peel. Oracle parity: peeling is idempotent at the
    * fixpoint, so the oracle unrolls the full cap as chained
    * MATERIALIZED CTEs and both sides equal the converged truss.
    * Output: the support histogram of the surviving truss (the same
    * shape as `graph_edge_support`, now conditioned on survival).
    *
    * Scale: each round is the oriented triangle join (the standard
    * O(E^1.5)-bounded truss round) on a DICTIONARY-bounded graph
    * (distinct part names); rounds × that cost is the whole budget,
    * and [[peel]] runs the rounds exactly as it does [[kCore]]'s. */
  private[graft] val trussK = 4
  private val trussMaxRounds = 8

  private def trussSupports(e: DataFrame): DataFrame = {
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.b") === col("e2.a"))
      .join(e.as("e3"), col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(col("x").as("a"), col("y").as("b"))
      .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
      .unionAll(tri.select(col("x").as("a"), col("z").as("b")))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
  }

  /** The converged truss EDGE set — shared by [[kTruss]] (census) and
    * the truss-⊆-core containment spec. */
  private[graft] def kTrussEdges(spark: SparkSession, dir: String): DataFrame =
    kTrussPeel(nameEdges(spark, dir), trussMaxRounds)

  /** The converged [[trussK]]-truss of a canonical (a < b) edge list. */
  private[graft] def kTrussPeel(edges: DataFrame, maxRounds: Int): DataFrame =
    peel("kTruss", edges, maxRounds) { e =>
      e.join(trussSupports(e), Seq("a", "b"))
        .filter(col("support") >= trussK - 2)
        .select(col("a"), col("b"))
    }

  def kTruss(spark: SparkSession, dir: String): DataFrame = {
    val e = kTrussEdges(spark, dir)
    e.join(trussSupports(e), Seq("a", "b"), "left")
      .select(coalesce(col("support"), lit(0L)).as("support"))
      .groupBy(col("support")).agg(count(lit(1)).as("n_edges"))
      .orderBy(col("support"))
  }

  val kTrussSql: String = {
    def triSql(from: String) =
      s"""SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM $from e1 JOIN $from e2 ON e1.b = e2.a
         |                JOIN $from e3 ON e3.a = e1.a AND e3.b = e2.b""".stripMargin
    def supSql(tri: String) =
      s"""SELECT a, b, count(*) AS support
         |  FROM (SELECT x AS a, y AS b FROM $tri
         |        UNION ALL SELECT y, z FROM $tri
         |        UNION ALL SELECT x, z FROM $tri)
         |  GROUP BY 1, 2""".stripMargin
    val rounds = (1 to trussMaxRounds).map { r =>
      s"""t$r AS MATERIALIZED (
         |${triSql(s"e${r - 1}")}),
         |s$r AS MATERIALIZED (
         |${supSql(s"t$r")}),
         |e$r AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e${r - 1} e JOIN s$r s USING (a, b)
         |  WHERE s.support >= ${trussK - 2})""".stripMargin
    }.mkString(",\n")
    s"""WITH names AS MATERIALIZED (
       |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
       |  FROM part GROUP BY p_name),
       |e0 AS MATERIALIZED (
       |  SELECT a.name AS a, b.name AS b
       |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= 3),
       |$rounds,
       |tf AS MATERIALIZED (
       |${triSql(s"e$trussMaxRounds")}),
       |sf AS MATERIALIZED (
       |${supSql("tf")})
       |SELECT coalesce(s.support, 0) AS support, count(*) AS n_edges
       |FROM e$trussMaxRounds e LEFT JOIN sf s USING (a, b)
       |GROUP BY 1 ORDER BY support""".stripMargin
  }

  /** ENTITY RESOLUTION end-to-end — the name-graph sibling of
    * `dedup_keep`: fuzzy-match pairs ([[Joins.fuzzyBlockedJoin]],
    * block-bounded levenshtein) feed connected components (min-label
    * pointer jumping — the string-id path), the lexicographically
    * smallest member becomes the CANONICAL entity, and the output is
    * the resolution table a warehouse would join dirty names through:
    * canonical name, alias count, total row mass, and the sorted
    * alias list (ordered string agg — collect order is never
    * trusted). Only real clusters (≥ 2 aliases) emit. The oracle
    * replays the closure as a recursive CTE. Scale: the pair stage
    * sees the distinct-name dictionary, CC cost tracks edges. */
  def erResolve(spark: SparkSession, dir: String): DataFrame = {
    val edges = nameEdges(spark, dir)
    val cc = Graft.connectedComponents(edges, "a", "b")
    val counts = Tables.part(spark, dir)
      .groupBy(col("p_name").as("id")).agg(count(lit(1)).as("n_rows"))
    cc.join(counts, "id")
      .groupBy(col("component").as("canonical_name"))
      .agg(count(lit(1)).as("n_aliases"),
        sum(col("n_rows")).as("n_rows"),
        concat_ws("|", sort_array(collect_list(col("id")))).as("alias_list"))
      .filter(col("n_aliases") >= 2)
      .orderBy(col("canonical_name"))
  }

  val erResolveSql: String =
    """WITH RECURSIVE names AS (
      |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
      |  FROM part GROUP BY p_name),
      |pairs AS (
      |  SELECT a.name AS a, b.name AS b
      |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
      |  WHERE levenshtein(a.name, b.name) <= 3),
      |edges AS (
      |  SELECT a AS src, b AS dst FROM pairs
      |  UNION ALL
      |  SELECT b AS src, a AS dst FROM pairs),
      |reach AS (
      |  SELECT src AS id, src AS label FROM edges
      |  UNION
      |  SELECT e.dst AS id, r.label
      |  FROM reach r JOIN edges e ON e.src = r.id),
      |labels AS (SELECT id, min(label) AS component FROM reach GROUP BY 1),
      |counts AS (SELECT p_name AS id, count(*) AS n_rows FROM part GROUP BY 1)
      |SELECT component AS canonical_name, count(*) AS n_aliases,
      |       CAST(sum(n_rows) AS BIGINT) AS n_rows,
      |       string_agg(id, '|' ORDER BY id) AS alias_list
      |FROM labels JOIN counts USING (id)
      |GROUP BY 1 HAVING count(*) >= 2
      |ORDER BY 1""".stripMargin

  /** Synchronous label propagation over ANY undirected weighted edge
    * list (src, dst, w) — community detection one notch above
    * connected components: labels flow along edges and each node
    * adopts the label with the greatest incident weight, so weakly
    * bridged clusters keep distinct labels where CC would merge
    * them. Classic async LPA is visit-order-dependent (useless under
    * a differential oracle and non-deterministic across cluster
    * runs); this is the SYNCHRONOUS deterministic variant: all nodes
    * update simultaneously from the previous round's labels, ties
    * broken by the smallest label. Same per-round cost profile as
    * [[pagerank]] (join on dst + argmax-agg per node), same eager
    * checkpoint discipline. */
  def labelPropagation(edges: DataFrame, iterations: Int = 2): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"labelPropagation: iterations $iterations")
    // labels flow both ways over an undirected edge
    val sym = symmetrized(edges)
    val nodes = sym.select(col("src").as("node")).distinct().localCheckpoint()
    var labels = nodes.withColumn("lbl", col("node"))
    (1 to iterations).foreach { _ =>
      // per node: total incident weight per neighbor label, argmax
      // via ordered-struct min (map-side combinable, no sort) —
      // (-weight, label) min ≡ (weight DESC, label ASC) rank 1
      val best = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src"), col("lbl"))
        .agg(sum(col("w")).as("tw"))
        .groupBy(col("src"))
        .agg(min(struct((-col("tw")).as("nw"), col("lbl").as("l"))).as("b"))
        .select(col("src").as("node"), col("b.l").as("new_lbl"))
      labels = nodes.join(best, Seq("node"), "left")
        .join(labels, Seq("node"))
        .select(col("node"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
        .localCheckpoint()
    }
    labels
  }

  /** An undirected (src, dst, w) edge list as both directions,
    * checkpointed. MAP-SIDE symmetrize (explode of the 2-struct array)
    * instead of a self-union: the union's two branches each re-ran the
    * caller's edge extraction inside the checkpoint's job (the
    * levenshtein verify for the fuzzy-name graph — only subtrees at
    * exchange roots get ReusedExchange'd, and the extraction's tail is
    * a filter, not an exchange), while the explode streams the
    * extraction ONCE and doubles rows in the map stage (r15). */
  private def symmetrized(edges: DataFrame): DataFrame =
    edges
      .select(explode(array(
        struct(col("src").as("src"), col("dst").as("dst"), col("w").as("w")),
        struct(col("dst").as("src"), col("src").as("dst"), col("w").as("w"))))
        .as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"), col("__e.w").as("w"))
      .localCheckpoint()

  /** Communities of the fuzzy-match name graph under 2 rounds of
    * synchronous LPA, edge weight = 4 − levenshtein (closer names
    * pull harder). Output: one row per community with size and the
    * lexicographically-first member as the exemplar. */
  def labelPropCommunities(spark: SparkSession, dir: String): DataFrame = {
    val edges = Joins.fuzzyBlockedJoin(spark, dir)
      .select(col("name_a").as("src"), col("name_b").as("dst"),
        (lit(4L) - col("dist")).as("w"))
    labelPropagation(edges, iterations = 2)
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"), min(col("node")).as("first_member"))
      .orderBy(col("community"))
  }

  private def lpaIterSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT n.node, coalesce(b.new_lbl, p.lbl) AS lbl
       |  FROM nodes n JOIN $prev p ON p.node = n.node
       |  LEFT JOIN (
       |    SELECT src AS node, lbl AS new_lbl FROM (
       |      SELECT e.src, l.lbl, sum(e.w) AS tw,
       |             row_number() OVER (PARTITION BY e.src
       |                                ORDER BY sum(e.w) DESC, l.lbl) AS rn
       |      FROM sym e JOIN $prev l ON l.node = e.dst
       |      GROUP BY e.src, l.lbl)
       |    WHERE rn = 1) b ON b.node = n.node)""".stripMargin

  val labelPropCommunitiesSql: String =
    s"""WITH names AS (
       |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
       |  FROM part GROUP BY p_name),
       |raw AS (
       |  SELECT a.name AS src, b.name AS dst,
       |         4 - levenshtein(a.name, b.name) AS w
       |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= 3),
       |sym AS (SELECT src, dst, w FROM raw
       |        UNION ALL SELECT dst, src, w FROM raw),
       |nodes AS (SELECT DISTINCT src AS node FROM sym),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |${lpaIterSql("l0", "l1")},
       |${lpaIterSql("l1", "l2")}
       |SELECT lbl AS community, count(*) AS n_members, min(node) AS first_member
       |FROM l2 GROUP BY 1 ORDER BY 1""".stripMargin

  /** Single-source shortest paths by synchronous Bellman-Ford
    * relaxation over any undirected weighted edge list — the
    * min-plus member of the iteration family ([[pagerank]] is
    * sum-times, [[labelPropagation]] is argmax): each round every
    * node takes min(own dist, min over neighbors of dist+w). All
    * integer arithmetic, so rounds are engine-exact; `iterations`
    * bounds the hop radius (dists beyond it are absent, exactly as
    * a vertex-program SSSP leaves them ∞). Per round: one join on
    * the frontier + one min-agg — the standard Pregel SSSP cost. */
  def shortestPaths(edges: DataFrame, source: String, iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 50, s"shortestPaths: iterations $iterations")
    val sym = symmetrized(edges)
    var dist = sym.select(col("src").as("node")).distinct()
      .where(col("node") === source)
      .withColumn("dist", lit(0L))
    (1 to iterations).foreach { _ =>
      val relaxed = sym
        .join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
        .union(dist.select(col("node"), col("dist").as("cand")))
        .groupBy(col("node")).agg(min(col("cand")).as("dist"))
      dist = relaxed.localCheckpoint()
    }
    dist.orderBy(col("dist"), col("node"))
  }

  /** Hop-bounded shortest paths over the fuzzy-name graph from its
    * lexicographically-first name, edge weight = the levenshtein
    * distance itself (path length ≈ accumulated edit distance). */
  def shortestPathsNames(spark: SparkSession, dir: String): DataFrame = {
    // checkpoint the extraction BEFORE the source-scalar head(): the
    // scalar job and shortestPaths' symmetrize job both branch from
    // it, and each used to replay the whole blocked-levenshtein join
    val e = Joins.fuzzyBlockedJoin(spark, dir)
      .select(col("name_a").as("src"), col("name_b").as("dst"), col("dist").as("w"))
      .localCheckpoint()
    val source = e.agg(min(least(col("src"), col("dst")))).head().getString(0)
    shortestPaths(e, source, iterations = 4)
      .select(col("node"), col("dist"))
      .orderBy(col("dist"), col("node"))
  }

  private def ssspIterSql(prev: String, out: String): String =
    s"""$out AS (
       |  SELECT node, min(cand) AS dist FROM (
       |    SELECT e.dst AS node, d.dist + e.w AS cand
       |    FROM sym e JOIN $prev d ON d.node = e.src
       |    UNION ALL SELECT node, dist FROM $prev)
       |  GROUP BY node)""".stripMargin

  val shortestPathsNamesSql: String =
    s"""WITH names AS (
       |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
       |  FROM part GROUP BY p_name),
       |raw AS (
       |  SELECT a.name AS src, b.name AS dst, levenshtein(a.name, b.name) AS w
       |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= 3),
       |sym AS (SELECT src, dst, w FROM raw
       |        UNION ALL SELECT dst, src, w FROM raw),
       |d0 AS (SELECT min(least(src, dst)) AS node, CAST(0 AS BIGINT) AS dist FROM raw),
       |${ssspIterSql("d0", "d1")},
       |${ssspIterSql("d1", "d2")},
       |${ssspIterSql("d2", "d3")},
       |${ssspIterSql("d3", "d4")}
       |SELECT node, dist FROM d4 ORDER BY dist, node""".stripMargin

  /** Link prediction by common-neighbor Jaccard over the kNN graph —
    * the classic "who should be connected" score: candidate pairs are
    * two hops apart (one self-join of the symmetrized edge list —
    * degree-bounded, never all-pairs: a d-regular graph yields ≤ d²
    * candidates per node), existing edges anti-joined out, score =
    * |N(a)∩N(b)| / |N(a)∪N(b)| from exact BIGINT counts. Top 20. */
  def linkPrediction(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.operators.Similarity.knnGraph(spark, dir)
      .select(col("src").as("a"), col("neighbor_id").as("b"))
    // map-side symmetrize (explode, not a self-union that would run
    // the kNN pipeline twice inside one job) + checkpointed once
    // (r16): deg, both sides of the candidate self-join and the
    // known-edge anti-join all consume sym — four evaluations of the
    // embedding kNN without the materialization. (checkpointWide was
    // A/B'd and was SLOWER — 2.08 vs 1.05 s: the kNN materialization
    // itself benefits from AQE coalescing; the k²-bounded candidate
    // join does not need the extra width.)
    val sym =
      e.select(explode(array(
          struct(col("a"), col("b")),
          struct(col("b").as("a"), col("a").as("b")))).as("__e"))
        .select(col("__e.a").as("a"), col("__e.b").as("b"))
        .distinct().localCheckpoint()
    val deg = sym.groupBy(col("a")).agg(count(lit(1)).as("d"))
    val cand = sym.select(col("a"), col("b").as("m"))
      .join(sym.select(col("a").as("m2"), col("b")), col("m") === col("m2"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    val fresh = cand.join(sym.withColumnRenamed("a", "ea").withColumnRenamed("b", "eb"),
      col("a") === col("ea") && col("b") === col("eb"), "left_anti")
    fresh
      .join(deg.select(col("a"), col("d").as("da")), "a")
      .join(deg.select(col("a").as("b2"), col("d").as("db")), col("b") === col("b2"))
      .select(col("a"), col("b"), col("common"),
        round(col("common").cast("double") /
          (col("da") + col("db") - col("common")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(20)
  }

  val linkPredictionSql: String = {
    val knn = graft.operators.Similarity.knnGraphSql
    s"""WITH knn AS ($knn),
       |e AS (SELECT src AS a, neighbor_id AS b FROM knn),
       |sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
       |deg AS (SELECT a, count(*) AS d FROM sym GROUP BY 1),
       |cand AS (
       |  SELECT x.a AS a, y.b AS b, CAST(count(*) AS BIGINT) AS common
       |  FROM sym x JOIN sym y ON x.b = y.a AND x.a < y.b
       |  GROUP BY 1, 2),
       |fresh AS (
       |  SELECT c.* FROM cand c
       |  LEFT JOIN sym s ON c.a = s.a AND c.b = s.b
       |  WHERE s.a IS NULL)
       |SELECT f.a, f.b, f.common,
       |       round(CAST(f.common AS DOUBLE) / (da.d + db.d - f.common), 4) AS jaccard
       |FROM fresh f
       |JOIN deg da ON f.a = da.a
       |JOIN deg db ON f.b = db.a
       |ORDER BY jaccard DESC, f.a, f.b LIMIT 20""".stripMargin
  }

  /** HITS hubs & authorities (2 synchronous iterations, max-
    * normalized) over the event-type transition graph — the directed
    * complement of [[pagerank]]: a node is a strong HUB if it links
    * to strong authorities (the event types that lead somewhere) and
    * a strong AUTHORITY if strong hubs link to it (the destinations).
    * Parity by the pagerank discipline: scores are integer
    * micro-units between half-steps; each half-step is an exact
    * BIGINT weighted sum followed by ONE max-normalizing division
    * (identical doubles both engines — max-norm, not sum-norm, so the
    * denominator is a single exact integer rather than an
    * order-sensitive float sum) and one round. The iteration loop is
    * generic over any (src, dst, w) edge DataFrame — on a data-sized
    * edge list each half-step is one join keyed on one endpoint + one
    * agg on the other, the canonical two-shuffle message-passing
    * round ([[pagerank]]'s cost model). */
  def hits(edgesRaw: DataFrame, iterations: Int = 2): DataFrame = {
    // the edge list runs ONCE and is measured by the same job: every
    // half-step joins it, and unchecked each of the 2·iterations joins
    // replayed the caller's full extraction lineage (for the
    // transition graph: a per-user window over all events — measured
    // 4x the op's cost). Rounds fold or materialize as in [[pagerank]].
    val (edges, rows) = iterRound("hits", 0, None, edgesRaw)
    val keep = roundKeeper("hits", rows)
    val nodes = keep(0, edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct())
    var h = nodes.withColumn("hm", lit(1000000L))
    var a = nodes.withColumn("am", lit(1000000L))
    for (r <- 1 to iterations) {
      val araw = edges.join(h.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(sum(col("w") * col("hm")).as("raw"))
      val amax = araw.agg(max(col("raw")).as("m"))
      a = keep(r, nodes.join(araw, Seq("node"), "left").crossJoin(broadcast(amax))
        .select(col("node"),
          round(lit(1e6) * coalesce(col("raw"), lit(0L)) / col("m"))
            .cast("long").as("am")))
      val hraw = edges.join(a.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node")).agg(sum(col("w") * col("am")).as("raw"))
      val hmax = hraw.agg(max(col("raw")).as("m"))
      h = keep(r, nodes.join(hraw, Seq("node"), "left").crossJoin(broadcast(hmax))
        .select(col("node"),
          round(lit(1e6) * coalesce(col("raw"), lit(0L)) / col("m"))
            .cast("long").as("hm")))
    }
    h.join(a, "node")
      .select(col("node"), col("hm").as("hub_micro"), col("am").as("auth_micro"))
      .orderBy(col("node"))
  }

  def hitsTypes(spark: SparkSession, dir: String): DataFrame =
    hits(transitions(spark, dir), iterations = 2).withColumnRenamed("node", "event_type")

  val hitsTypesSql: String = {
    val rounds = (1 to 2).map { r =>
      s"""a${r}raw AS (
         |  SELECT e.dst AS node, sum(e.w * h.hm) AS raw
         |  FROM edges e JOIN h${r - 1} h ON h.node = e.src GROUP BY 1),
         |a$r AS (
         |  SELECT n.node,
         |         CAST(round(1e6 * coalesce(r.raw, 0) / (SELECT max(raw) FROM a${r}raw))
         |              AS BIGINT) AS am
         |  FROM nodes n LEFT JOIN a${r}raw r ON n.node = r.node),
         |h${r}raw AS (
         |  SELECT e.src AS node, sum(e.w * a.am) AS raw
         |  FROM edges e JOIN a$r a ON a.node = e.dst GROUP BY 1),
         |h$r AS (
         |  SELECT n.node,
         |         CAST(round(1e6 * coalesce(r.raw, 0) / (SELECT max(raw) FROM h${r}raw))
         |              AS BIGINT) AS hm
         |  FROM nodes n LEFT JOIN h${r}raw r ON n.node = r.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ordered AS (
       |  SELECT user_id, event_type,
       |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
       |  FROM events),
       |edges AS (
       |  SELECT prev AS src, event_type AS dst, count(*) AS w
       |  FROM ordered WHERE prev IS NOT NULL GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT src AS node FROM edges
       |          UNION SELECT DISTINCT dst FROM edges),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hm FROM nodes),
       |$rounds
       |SELECT h2.node AS event_type, h2.hm AS hub_micro, a2.am AS auth_micro
       |FROM h2 JOIN a2 ON h2.node = a2.node
       |ORDER BY 1""".stripMargin
  }

  /** MODULARITY score of the LPA communities — the number that says
    * whether a partition is COMMUNITIES or noise (Q ≈ 0: no better
    * than random; Q ≳ 0.3: real structure). Q = Σ_c [e_c/m −
    * (d_c/2m)²] over the same fuzzy-name graph and the same
    * 2-iteration deterministic [[labelPropagation]] the
    * `graph_label_prop` op pins — so this is the quality gate ON that
    * op's output, oracle-replayed end-to-end (the oracle re-runs LPA
    * as CTEs, then the formula). All inputs are exact integers
    * (levenshtein weights); each community's contribution quantizes
    * to ONE micro-unit integer before the total (the chi-square
    * discipline). Cost: the pair/LPA stages the siblings already
    * bound, plus two compact-key aggs (per-community intra-weight,
    * per-community degree). */
  def modularity(spark: SparkSession, dir: String): DataFrame = {
    val raw = Joins.fuzzyBlockedJoin(spark, dir)
      .select(col("name_a").as("src"), col("name_b").as("dst"),
        (lit(4L) - col("dist")).as("w"))
    val edges = raw.localCheckpoint() // reused by LPA + 3 aggs below
    val labels = labelPropagation(edges, iterations = 2)
      .select(col("node"), col("lbl"))
    val m = edges.agg(sum(col("w")).as("m"))
    val intra = edges
      .join(labels.select(col("node").as("src"), col("lbl").as("la")), "src")
      .join(labels.select(col("node").as("dst"), col("lbl").as("lb")), "dst")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(sum(col("w")).as("intra_w"))
    val deg = edges.select(col("src").as("node"), col("w"))
      .union(edges.select(col("dst"), col("w")))
      .join(labels, "node")
      .groupBy(col("lbl").as("community"))
      .agg(sum(col("w")).as("degree_w"), countDistinct(col("node")).as("n_members"))
    val perC = deg.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_members"),
        coalesce(col("intra_w"), lit(0L)).as("intra_w"), col("degree_w"),
        round(lit(1e6) * (coalesce(col("intra_w"), lit(0L)).cast("double") / col("m") -
          (col("degree_w").cast("double") / (lit(2L) * col("m"))) *
            (col("degree_w").cast("double") / (lit(2L) * col("m")))))
          .cast("long").as("contrib_micro"))
    val q = perC.agg(sum(col("contrib_micro")).as("modularity_micro"))
    perC.crossJoin(broadcast(q))
      .orderBy(col("community"))
  }

  val modularitySql: String =
    s"""WITH names AS (
       |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
       |  FROM part GROUP BY p_name),
       |raw AS (
       |  SELECT a.name AS src, b.name AS dst,
       |         4 - levenshtein(a.name, b.name) AS w
       |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= 3),
       |sym AS (SELECT src, dst, w FROM raw
       |        UNION ALL SELECT dst, src, w FROM raw),
       |nodes AS (SELECT DISTINCT src AS node FROM sym),
       |l0 AS (SELECT node, node AS lbl FROM nodes),
       |${lpaIterSql("l0", "l1")},
       |${lpaIterSql("l1", "l2")},
       |m AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM raw),
       |intra AS (
       |  SELECT la.lbl AS community, CAST(sum(e.w) AS BIGINT) AS intra_w
       |  FROM raw e JOIN l2 la ON la.node = e.src
       |             JOIN l2 lb ON lb.node = e.dst
       |  WHERE la.lbl = lb.lbl GROUP BY 1),
       |deg AS (
       |  SELECT l.lbl AS community, CAST(sum(s.w) AS BIGINT) AS degree_w,
       |         count(DISTINCT s.src) AS n_members
       |  FROM sym s JOIN l2 l ON l.node = s.src GROUP BY 1),
       |perc AS (
       |  SELECT d.community, d.n_members,
       |         coalesce(i.intra_w, 0) AS intra_w, d.degree_w,
       |         CAST(round(1e6 * (CAST(coalesce(i.intra_w, 0) AS DOUBLE) / m.m -
       |                (CAST(d.degree_w AS DOUBLE) / (2 * m.m)) *
       |                (CAST(d.degree_w AS DOUBLE) / (2 * m.m)))) AS BIGINT) AS contrib_micro
       |  FROM deg d LEFT JOIN intra i ON d.community = i.community, m),
       |q AS (SELECT CAST(sum(contrib_micro) AS BIGINT) AS modularity_micro FROM perc)
       |SELECT perc.*, q.modularity_micro FROM perc, q ORDER BY community""".stripMargin

  /** DEGREE ASSORTATIVITY — do high-degree nodes link to high-degree
    * nodes? The one-number topology diagnostic (social graphs
    * assortative r > 0, technological/star graphs disassortative
    * r < 0) that decides whether hub-based sampling or peeling
    * strategies will behave. Pearson correlation of endpoint degrees
    * over the DIRECTED-BOTH-WAYS edge list (each undirected edge
    * contributes (da,db) and (db,da) — the standard symmetrization
    * that makes x/y moments equal). Degrees and edge counts are exact
    * integers, so all five moments are BIGINTs and the coefficient is
    * one double expression — engine-identical (the [[graft.operators.TimeSeries.acf]]
    * argument on a graph). Cost: one degree agg + two broadcast-class
    * joins onto the edge list. */
  def assortativity(spark: SparkSession, dir: String): DataFrame = {
    val raw = nameEdges(spark, dir)
    val edges = raw.union(raw.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val deg = edges.groupBy(col("a").as("node")).agg(count(lit(1)).as("d"))
    val paired = edges
      .join(deg.select(col("node").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("d").as("db")), "b")
    paired.agg(count(lit(1)).as("m"),
        sum(col("da")).as("sx"), sum(col("db")).as("sy"),
        sum(col("da") * col("db")).as("sxy"),
        sum(col("da") * col("da")).as("sxx"),
        sum(col("db") * col("db")).as("syy"))
      .select((col("m") / 2).cast("long").as("n_edges"),
        round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double") *
            (col("m") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
          .as("assortativity"))
  }

  val assortativitySql: String =
    """WITH names AS (
      |  SELECT p_name AS name, string_split(p_name, ' ')[-1] AS noun
      |  FROM part GROUP BY p_name),
      |raw AS (
      |  SELECT a.name AS a, b.name AS b
      |  FROM names a JOIN names b ON a.noun = b.noun AND a.name < b.name
      |  WHERE levenshtein(a.name, b.name) <= 3),
      |sym AS (SELECT a, b FROM raw UNION ALL SELECT b, a FROM raw),
      |deg AS (SELECT a AS node, count(*) AS d FROM sym GROUP BY 1),
      |paired AS (
      |  SELECT da.d AS da, db.d AS db
      |  FROM sym e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
      |m AS (
      |  SELECT count(*) AS m, sum(da) AS sx, sum(db) AS sy,
      |         sum(da * db) AS sxy, sum(da * da) AS sxx, sum(db * db) AS syy
      |  FROM paired)
      |SELECT CAST(m // 2 AS BIGINT) AS n_edges,
      |       round(CAST(m * sxy - sx * sy AS DOUBLE) /
      |             sqrt(CAST(m * sxx - sx * sx AS DOUBLE) *
      |                  CAST(m * syy - sy * sy AS DOUBLE)), 6) AS assortativity
      |FROM m""".stripMargin

  /** BIPARTITE PROJECTION — collapse the order–part bipartite graph
    * onto its part side: parts are linked iff some order contains
    * both, edge weight = number of co-containing orders, plus the
    * Jaccard affinity w/(dₐ+d_b−w) in ppm. This is the graph-
    * CONSTRUCTION step the recommendation family ([[Analytics]]
    * item-CF) and community ops consume — the projection is the
    * expensive half and its cost bound is the point: pair mass is
    * Σ b(b−1)/2 over BASKET sizes (physically bounded by order
    * width), never |parts|², and the distinct-pair prep keeps
    * multi-line orders from inflating weights. Degrees come from one
    * compact-key census joined back by key. Top-20 edges by weight,
    * keyed tiebreak. */
  def bipartiteProject(spark: SparkSession, dir: String): DataFrame = {
    // map-side basket-pair generation (r15, the Analytics.itemCf
    // rewrite): ONE order-keyed collect_set aggregation replaces the
    // distinct + orderkey self-join — collect_set dedups per order
    // exactly as the old distinct() did, and the b(b−1)/2 pairs
    // explode from the sorted basket array (order width bounds the
    // fan-out, the same bound the join relied on). One basket
    // exchange + one pair-agg exchange instead of distinct + two join
    // exchanges; lineitem scanned once.
    // checkpointed once (r16): deg and the pair explode share only
    // the exchange — the collect_set agg ran twice per call.
    // (checkpointWide was A/B'd here and washed: unlike itemCf there
    // is no per-item window downstream to feed, and the 32-wide
    // explode's per-task overhead ate the parallelism gain.)
    val baskets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .localCheckpoint()
    val deg = baskets.select(explode(col("ps")).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("deg"))
    val edges = baskets
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), greatest(size(col("ps")) - i - 1, lit(0))),
          y => struct(x.as("part_a"), y.as("part_b")))))).as("pr"))
      .select(col("pr.part_a").as("part_a"), col("pr.part_b").as("part_b"))
      .groupBy(col("part_a"), col("part_b")).agg(count(lit(1)).as("w"))
    edges
      .join(deg.select(col("pk").as("part_a"), col("deg").as("da")), Seq("part_a"))
      .join(deg.select(col("pk").as("part_b"), col("deg").as("db")), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("w"),
        round(lit(1e6) * col("w").cast("double") /
          (col("da") + col("db") - col("w")).cast("double")).cast("long")
          .as("jaccard_ppm"))
      .orderBy(col("w").desc, col("part_a"), col("part_b"))
      .limit(20)
  }

  val bipartiteProjectSql: String =
    """WITH op AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |deg AS (SELECT pk, count(*) AS deg FROM op GROUP BY 1),
      |edges AS (
      |  SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS w
      |  FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2)
      |SELECT e.part_a, e.part_b, e.w,
      |       CAST(round(1e6 * CAST(e.w AS DOUBLE)
      |                  / CAST(da.deg + db.deg - e.w AS DOUBLE)) AS BIGINT) AS jaccard_ppm
      |FROM edges e
      |JOIN deg da ON e.part_a = da.pk
      |JOIN deg db ON e.part_b = db.pk
      |ORDER BY e.w DESC, e.part_a, e.part_b
      |LIMIT 20""".stripMargin

  // ---------------------------------------------------------------
  // Deterministic random walks (node2vec-style sampling)
  // ---------------------------------------------------------------

  /** DETERMINISTIC RANDOM WALKS over the part–order bipartite graph —
    * the sampling primitive behind DeepWalk/node2vec-style graph
    * embeddings and "customers also bought" exploration: from each of
    * the top-20 highest-degree parts, 8 walks take two hops
    * (part → order → part) with the neighbor at each hop chosen by
    * the portable md5 id-hash modulo the node's degree. The key
    * design point for scale: the walk NEVER fans out to a node's
    * neighbor list — both hop tables are RANK-INDEXED (row_number
    * within node), the degree join computes the target rank, and the
    * hop is then ONE equi join on (node, rank). Pair that with the
    * hash-determinism and the walk is reproducible bit-for-bit with
    * no RNG state, no driver loop, and per-hop cost independent of
    * degree skew. Scale shape (r14 rewrite — the r13 probe's 3.1×
    * ratio was TWO data-sized rank windows plus TWO data-sized degree
    * aggs over the edge list, when only the FRONTIER's ranks are ever
    * consumed): the edge list pays ONE distinct shuffle (checkpointed
    * — its consumers would otherwise re-run it per job) and one
    * map-side-combinable degree agg for the start selection; the walk
    * frontier is BOUNDED BY CONSTRUCTION (20 starts × 8 walks ≤ 160
    * rows, ≤160 distinct via-orders), so its node ids are collected
    * (bounded artifacts) and pushed down as IN filters — the rank
    * windows then run over only the frontier nodes' edges. Filtering
    * on the window PARTITION key keeps every edge of a selected node,
    * so row_number/count per node are identical to the unfiltered
    * windows — hop semantics are bit-for-bit unchanged. */
  def randomWalk(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey").as("p"), col("l_orderkey").as("o"))
      .distinct().localCheckpoint()
    val byPart = Window.partitionBy(col("p")).orderBy(col("o"))
    val byOrder = Window.partitionBy(col("o")).orderBy(col("p"))
    val degP = li.groupBy(col("p")).agg(count(lit(1)).as("deg_p"))
    // bounded artifact: the top-20 start parts WITH their degrees —
    // collected once (r16; the r15 shape collected only the part ids
    // and re-ran the data-sized degree agg + top-k inside the hop-1
    // plan a second time), walks exploded driver-side
    val startRows = degP.orderBy(col("deg_p").desc, col("p")).limit(20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val starts = {
      import spark.implicits._
      startRows.toSeq.toDF("p", "deg_p")
        .withColumn("walk", explode(sequence(lit(0L), lit(7L))))
    }
    val startPs = startRows.map(_._1)
    val e1 = li.filter(col("p").isin(startPs: _*))
      .select(col("p"), col("o"), row_number().over(byPart).as("rn"))
    def h(parts: Column*) = Graft.idHash(concat_ws(":", parts: _*))
    // bounded artifact: ≤ 20 starts × 8 walks = 160 rows — collected
    // whole (r16; the r15 shape paid a checkpoint job AND a collect)
    // and rebuilt as a local relation for the hop-2 broadcast side
    val hop1Q = broadcast(starts
      .withColumn("rn", pmod(h(col("p"), col("walk"), lit("h1")), col("deg_p")) + 1L))
      .join(e1, Seq("p", "rn"))
    val hop1Rows = hop1Q.collect()
    val hop1 = spark.createDataFrame(
      java.util.Arrays.asList(hop1Rows: _*), hop1Q.schema)
    val hopOs = hop1Rows.map(_.getAs[Long]("o")).distinct
    val e2 = li.filter(col("o").isin(hopOs: _*))
      .select(col("o"), col("p").as("p2"), row_number().over(byOrder).as("rn2"),
        count(lit(1)).over(Window.partitionBy(col("o"))).as("deg_o"))
    // frontier stays the broadcast side; e2 is already frontier-pruned
    // and carries deg_o from the same window exchange, so the hop is
    // one broadcast join with the rank-target residual
    val hop2 = broadcast(hop1.drop("rn")).join(e2, Seq("o"))
      .filter(col("rn2") ===
        pmod(h(col("o"), col("walk"), lit("h2")), col("deg_o")) + 1L)
    hop2.select(col("p").as("start_part"), col("walk"),
      col("o").as("via_order"), col("p2").as("end_part"))
      .orderBy(col("start_part"), col("walk"))
  }

  val randomWalkSql: String =
    """WITH li AS (
      |  SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem),
      |e1 AS (
      |  SELECT p, o, row_number() OVER (PARTITION BY p ORDER BY o) AS rn FROM li),
      |e2 AS (
      |  SELECT o, p AS p2, row_number() OVER (PARTITION BY o ORDER BY p) AS rn FROM li),
      |degp AS (SELECT p, count(*) AS deg_p FROM li GROUP BY 1),
      |dego AS (SELECT o, count(*) AS deg_o FROM li GROUP BY 1),
      |starts AS (
      |  SELECT p, deg_p, w.walk
      |  FROM (SELECT p, deg_p FROM degp ORDER BY deg_p DESC, p LIMIT 20),
      |       (SELECT unnest(range(8)) AS walk) w),
      |hop1 AS (
      |  SELECT s.p, s.walk, e.o
      |  FROM starts s JOIN e1 e ON e.p = s.p AND e.rn =
      |    ((('0x' || substring(md5(CAST(s.p AS VARCHAR) || ':'
      |        || CAST(s.walk AS VARCHAR) || ':h1'), 1, 8))::BIGINT % s.deg_p
      |      + s.deg_p) % s.deg_p) + 1),
      |hop2 AS (
      |  SELECT h.p, h.walk, h.o, e.p2
      |  FROM hop1 h
      |  JOIN dego d ON d.o = h.o
      |  JOIN e2 e ON e.o = h.o AND e.rn =
      |    ((('0x' || substring(md5(CAST(h.o AS VARCHAR) || ':'
      |        || CAST(h.walk AS VARCHAR) || ':h2'), 1, 8))::BIGINT % d.deg_o
      |      + d.deg_o) % d.deg_o) + 1)
      |SELECT p AS start_part, CAST(walk AS BIGINT) AS walk,
      |       o AS via_order, p2 AS end_part
      |FROM hop2 ORDER BY start_part, walk""".stripMargin

  /** DEGREE DISTRIBUTION + POWER-LAW TAIL FIT — the first diagnostic
    * run on any production graph (is this scale-free? how heavy is
    * the hub tail that will skew every join?): part degrees in the
    * order–part bipartite graph, their histogram, and the Hill MLE
    * α̂ = 1 + n_tail / Σ k_d·ln(d/d_min) over the tail d ≥ d_min = 5.
    * The whole fit folds over the DEGREE HISTOGRAM (≤ max-degree
    * keys): each distinct degree's ln(d/d_min) is quantized ONCE to
    * integer micro-nats (the ln contract) and the sum is an exact
    * k-weighted integer — the estimator never touches per-node rows
    * after the one degree census. */
  def degreePowerLaw(spark: SparkSession, dir: String): DataFrame = {
    val dmin = 5L
    val deg = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      .groupBy(col("pk")).agg(count(lit(1)).as("d"))
    val hist = deg.groupBy(col("d")).agg(count(lit(1)).as("k"))
    val m = hist.agg(
      sum(col("k")).as("n_parts"), max(col("d")).as("max_degree"),
      sum(when(col("d") >= dmin, col("k")).otherwise(0L)).as("n_tail"),
      sum(when(col("d") >= dmin,
        col("k") * round(lit(1e6) * log(col("d").cast("double") / lit(dmin.toDouble)))
          .cast("long")).otherwise(0L)).as("sum_ln_micro"))
    m.select(lit(dmin).as("d_min"), col("n_parts"), col("max_degree"),
      col("n_tail"),
      round(lit(1e6) + lit(1e12) * col("n_tail").cast("double") /
        col("sum_ln_micro").cast("double")).cast("long").as("alpha_micro"))
  }

  val degreePowerLawSql: String =
    """WITH deg AS (
      |  SELECT pk, count(*) AS d
      |  FROM (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      |  GROUP BY 1),
      |hist AS (SELECT d, count(*) AS k FROM deg GROUP BY 1),
      |m AS (
      |  SELECT sum(k) AS n_parts, max(d) AS max_degree,
      |         sum(CASE WHEN d >= 5 THEN k ELSE 0 END) AS n_tail,
      |         sum(CASE WHEN d >= 5 THEN
      |               k * CAST(round(1e6 * ln(CAST(d AS DOUBLE) / 5.0)) AS BIGINT)
      |             ELSE 0 END) AS sum_ln_micro
      |  FROM hist)
      |SELECT CAST(5 AS BIGINT) AS d_min, CAST(n_parts AS BIGINT) AS n_parts,
      |       CAST(max_degree AS BIGINT) AS max_degree,
      |       CAST(n_tail AS BIGINT) AS n_tail,
      |       CAST(round(1e6 + 1e12 * CAST(n_tail AS DOUBLE)
      |                  / CAST(sum_ln_micro AS DOUBLE)) AS BIGINT) AS alpha_micro
      |FROM m""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_degree_powerlaw" -> (degreePowerLaw _),
    "graph_random_walk" -> (randomWalk _),
    "graph_bipartite_project" -> (bipartiteProject _),
    "graph_assortativity" -> (assortativity _),
    "graph_modularity" -> (modularity _),
    "graph_hits" -> (hitsTypes _),
    "graph_link_pred" -> (linkPrediction _),
    "graph_pagerank" -> (pagerankTypes _),
    "graph_ppr" -> (pprTypes _),
    "graph_kcore" -> (kCore _),
    "graph_ktruss" -> (kTruss _),
    "graph_er_resolve" -> (erResolve _),
    "graph_triangles" -> (triangles _),
    "graph_clustering_coeff" -> (clusteringCoeff _),
    "graph_edge_support" -> (edgeSupport _),
    "graph_reciprocity" -> (reciprocity _),
    "graph_label_prop" -> (labelPropCommunities _),
    "graph_sssp" -> (shortestPathsNames _)
  )

  def oracle: Map[String, String] = Map(
    "graph_degree_powerlaw" -> degreePowerLawSql,
    "graph_random_walk" -> randomWalkSql,
    "graph_bipartite_project" -> bipartiteProjectSql,
    "graph_modularity" -> modularitySql,
    "graph_assortativity" -> assortativitySql,
    "graph_hits" -> hitsTypesSql,
    "graph_link_pred" -> linkPredictionSql,
    "graph_pagerank" -> pagerankTypesSql,
    "graph_ppr" -> pprTypesSql,
    "graph_kcore" -> kCoreSql,
    "graph_ktruss" -> kTrussSql,
    "graph_er_resolve" -> erResolveSql,
    "graph_triangles" -> trianglesSql,
    "graph_clustering_coeff" -> clusteringCoeffSql,
    "graph_edge_support" -> edgeSupportSql,
    "graph_reciprocity" -> reciprocitySql,
    "graph_label_prop" -> labelPropCommunitiesSql,
    "graph_sssp" -> shortestPathsNamesSql
  )
}
