package graft

import graft.api.Graft
import graft.operators.GraphOps
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The graph iteration loops: the one-job checkpoint-and-count step,
  * the job register of the queries that iterate or gate on a measured
  * size, both sides of the rank loops' fold/materialize choice, and the
  * peel loop's round cap. */
class GraphIterSpec extends SparkSpec {

  /** Jobs each query launches at sf0.001 on the spec session, building
    * the frame and collecting it: the graph and gate queries, then the
    * eight `etl_mix` benchmark queries. A count may only go down; raising
    * one needs a written reason here. */
  private val JobRegister: Map[String, Int] = Map(
    "graph_pagerank" -> 20,
    "graph_ppr" -> 18,
    "graph_hits" -> 29,
    "graph_kcore" -> 15,
    "graph_ktruss" -> 25,
    "graph_label_prop" -> 26,
    "graph_sssp" -> 30,
    "graph_er_resolve" -> 21,
    "graph_betweenness" -> 23,
    "geo_dbscan" -> 20,
    "ref_ingest_filter" -> 1,
    "ref_reject_split" -> 1,
    "q3_shipping_priority" -> 4,
    "q5_local_supplier_volume" -> 7,
    "q10_returned_customers" -> 5,
    "agg_pricing_summary" -> 2,
    "etl_scd2" -> 2,
    "etl_merge_upsert" -> 5)

  /** The register queries whose construction is a peel or rank loop. */
  private val Loops = Map("graph_pagerank" -> "pagerank", "graph_ppr" -> "ppr",
    "graph_hits" -> "hits", "graph_kcore" -> "kCore", "graph_ktruss" -> "kTruss")

  test("materialize: one job checkpoints and counts, and later actions read the checkpoint") {
    val evals = spark.sparkContext.longAccumulator("materialize-evals")
    val touch = udf { (x: Long) => evals.add(1); x }
    val ((df, n), tags) = tagsDuring(
      Graft.materialize(spark.range(1000).select(touch(col("id")).as("id"))))
    assert(n === 1000L)
    assert(tags.size === 1, tags)
    assert(df.agg(sum("id")).head().getLong(0) === 499500L)
    assert(df.collect().length === 1000)
    assert(evals.value === 1000L)
  }

  test("job register: no query launches more jobs than pinned; loop jobs carry iter: and the tag is gone after") {
    val sc = spark.sparkContext
    val counts = JobRegister.keys.toSeq.sorted.map { q =>
      val (df, built) = tagsDuring(SparkEntry.queries(q)(spark, sf))
      assert(sc.getLocalProperty(Graft.ScopeTag) === null, q)
      val (rows, ran) = tagsDuring(df.collect())
      assert(rows.nonEmpty, q)
      Loops.get(q).foreach { op =>
        assert(built.nonEmpty && built.forall(t => t != null && t.startsWith(s"iter:$op round=")),
          s"$q: $built")
        assert(!ran.exists(t => t != null && t.startsWith("iter:")), s"$q: $ran")
      }
      q -> (built.size + ran.size)
    }
    info(counts.map { case (q, n) => s"$q=$n" }.mkString(" "))
    counts.foreach { case (q, n) => assert(n <= JobRegister(q), s"$q: $n jobs, pinned ${JobRegister(q)}") }
  }

  test("rank loops: folded rounds and materialized rounds return identical rows") {
    for ((q, op) <- Seq("graph_pagerank" -> "pagerank", "graph_ppr" -> "ppr", "graph_hits" -> "hits")) {
      def run(bound: Long): (Seq[Row], Seq[String]) =
        GraphOps.foldRows.withValue(bound)(
          tagsDuring(SparkEntry.queries(q)(spark, sf).collect().toSeq))
      val (folded, foldTags) = run(Long.MaxValue)
      val (materialized, roundTags) = run(-1L)
      assert(folded.nonEmpty, q)
      assert(folded === materialized, q)
      // each side was taken: only the materializing run launches round jobs
      def roundJobs(tags: Seq[String]) =
        tags.filter(t => t != null && t.startsWith(s"iter:$op round=") && !t.startsWith(s"iter:$op round=0"))
      assert(roundJobs(foldTags).isEmpty, foldTags)
      assert(roundJobs(roundTags).nonEmpty, roundTags)
    }
  }

  test("peel loop: a round cap short of the fixpoint raises the named error, for k-core and k-truss") {
    import spark.implicits._
    def n(i: Int) = f"n$i%02d"
    // a path n01 - … - n09: each 2-core round drops the two end edges
    val path = (1 until 9).map(i => (n(i), n(i + 1))).toDF("a", "b")
    val core = intercept[IllegalArgumentException](GraphOps.kCorePeel(path, 1))
    assert(core.getMessage.contains("kCore: no fixpoint within 1 rounds (6 edges left)"))
    assert(GraphOps.kCorePeel(path, 12).count() === 0L)
    // the same path with its (i, i+2) chords, a strip of triangles:
    // round 1 keeps the six inner path edges (support 2), round 2
    // finds them in no triangle
    val strip = ((1 until 9).map(i => (n(i), n(i + 1))) ++
      (1 until 8).map(i => (n(i), n(i + 2)))).toDF("a", "b")
    val truss = intercept[IllegalArgumentException](GraphOps.kTrussPeel(strip, 1))
    assert(truss.getMessage.contains("kTruss: no fixpoint within 1 rounds (6 edges left)"))
    assert(GraphOps.kTrussPeel(strip, 8).count() === 0L)
  }
}
