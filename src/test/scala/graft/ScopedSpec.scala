package graft

import graft.api.Graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** `Graft.scoped` runs a body under extra SQL settings on a private
  * session: the caller's session conf is never written, results come
  * back bound to the caller, and the body's jobs carry the scope tag. */
class ScopedSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Partitions = "spark.sql.shuffle.partitions"

  test("scoped: the body sees the settings, the caller's conf is untouched, the frame comes back bound to the caller") {
    val before = spark.conf.getAll
    var inside = ""
    val out = Graft.scoped(spark, "spec:10", Map(Partitions -> "1")) { s =>
      inside = s.conf.get(Partitions)
      assert(spark.conf.get(Partitions) === before(Partitions))
      Graft.on(s, spark.range(10).toDF("id"))
        .groupBy((col("id") % 3).as("k")).count().localCheckpoint()
    }
    assert(inside === "1")
    assert(out.sparkSession eq spark)
    assert(spark.conf.getAll === before)
    assert(out.orderBy("k").collect().map(_.getLong(1)).toSeq === Seq(4L, 3L, 3L))
    // a lazy frame built in the scope executes under the caller's conf
    val lazyOut = Graft.scoped(spark, "spec:10", Graft.tiny(spark, 10L))(
      s => Graft.on(s, spark.range(10).toDF("id")).groupBy("id").count())
    assert(lazyOut.sparkSession eq spark)
    assert(lazyOut.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
  }

  test("scoped: a body that throws leaves the caller's conf and scope tag as they were") {
    val sc = spark.sparkContext
    val before = spark.conf.getAll
    sc.setLocalProperty(Graft.ScopeTag, "outer")
    try {
      val e = intercept[IllegalStateException] {
        Graft.scoped(spark, "spec:1", Graft.tiny(spark, 1L)) { s =>
          assert(s ne spark)
          assert(s.conf.get("spark.sql.adaptive.enabled") === "false")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
      assert(spark.conf.getAll === before)
      assert(sc.getLocalProperty(Graft.ScopeTag) === "outer")
      // the scope session's own writes were restored too
      Graft.scoped(spark, "spec:1", Map(Partitions -> "2")) { s =>
        assert(s.conf.get("spark.sql.adaptive.enabled") === spark.conf.get("spark.sql.adaptive.enabled"))
        assert(s.conf.get("spark.sql.codegen.wholeStage") === spark.conf.get("spark.sql.codegen.wholeStage"))
        spark.emptyDataFrame
      }
    } finally sc.setLocalProperty(Graft.ScopeTag, null)
  }

  test("scoped: one private session per thread is reused until the caller's conf changes, and nested scopes run on it") {
    def sessionOf(settings: Map[String, String]): SparkSession = {
      var seen: SparkSession = null
      Graft.scoped(spark, "spec:1", settings) { s => seen = s; spark.emptyDataFrame }
      seen
    }
    val a = sessionOf(Map(Partitions -> "1"))
    val b = sessionOf(Map(Partitions -> "3"))
    assert(a ne spark)
    assert(a eq b)
    assert(sessionOf(Map.empty) eq spark)
    // nested: a gate inside a scoped body runs on the scope session
    Graft.scoped(spark, "spec:1", Map(Partitions -> "1")) { s =>
      Graft.scoped(s, "spec:inner", Map(Partitions -> "2")) { inner =>
        assert(inner eq s)
        assert(inner.conf.get(Partitions) === "1")
        inner.emptyDataFrame
      }
    }
    val key = "graft.spec.probe"
    spark.conf.set(key, "v1")
    try {
      val c = sessionOf(Map(Partitions -> "1"))
      assert(c ne a)
      assert(c.conf.get(key) === "v1")
    } finally spark.conf.unset(key)
  }

  test("scoped: jobs launched inside a firing scope carry its tag; the tag is gone after it") {
    val (_, tags) = tagsDuring {
      Graft.scoped(spark, "spec:100", Graft.tiny(spark, 100L)) { s =>
        Graft.on(s, spark.range(100).toDF("id")).groupBy(col("id") % 5).count()
          .localCheckpoint()
      }.count()
    }
    assert(tags.nonEmpty)
    assert(tags.head === "spec:100", tags)
    assert(tags.last === null, tags) // the count after the scope
    // CC's jobs after the edge count run in its scope, tagged with the
    // measured edge count, level, contract decision and round
    val (_, ccTags) = tagsDuring {
      Graft.connectedComponents(graph(40, 0), "a", "b").count()
    }
    assert(ccTags.contains("cc:78 level=0 contract=false"), ccTags)
    assert(ccTags.contains("cc:78 level=0 contract=false round=0"), ccTags)
    assert(ccTags.filter(_ != null).forall(_.startsWith("cc:78 level=0 contract=false")), ccTags)
  }

  /** A path 0 - 1 - … - (n-1) plus `triangles` disjoint triangles. */
  private def graph(n: Int, triangles: Int): DataFrame = {
    import spark.implicits._
    ((0 until n - 1).map(i => (i.toLong, i + 1L)) ++
      (0 until triangles).flatMap { t =>
        val b = 10000L + 3 * t
        Seq((b, b + 1), (b + 1, b + 2))
      }).toDF("a", "b")
  }

  test("connectedComponents: a tiny-scoped run matches a run on the caller's settings") {
    // 600-node path + 50 triangles: > 1024 symmetric edges, so the
    // contraction level runs too, and its residue recurses
    val edges = graph(600, 50)
    def labels(df: DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nSym = 2L * edges.count()
    val tinyRun = Graft.scoped(spark, s"spec:$nSym", Graft.tiny(spark, nSym)) { s =>
      Graft.connectedComponents(Graft.on(s, edges), "a", "b")
    }
    // settings equal to the caller's own: the nested CC gates run on a
    // scope session whose conf is the caller's
    val callerRun = Graft.scoped(spark, "spec:caller",
        Map("spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"))) { s =>
      Graft.connectedComponents(Graft.on(s, edges), "a", "b")
    }
    val expected = (0L until 600L).map(_ -> 0L).toMap ++
      (0 until 50).flatMap { t => val b = 10000L + 3 * t; Seq(b, b + 1, b + 2).map(_ -> b) }
    assert(labels(tinyRun) === expected)
    assert(labels(callerRun) === expected)
    assert(labels(Graft.connectedComponents(edges, "a", "b")) === expected)
  }

  test("a query planned on another thread while geo_dbscan runs keeps AQE, codegen and the caller's shuffle width") {
    val width = spark.conf.get(Partitions).toInt
    @volatile var done = false
    @volatile var failure: Throwable = null
    val runner = new Thread(() =>
      try SparkEntry.queries("geo_dbscan")(spark, sf).collect()
      catch { case t: Throwable => failure = t }
      finally done = true)
    runner.start()
    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    var probes = 0
    while (!done || probes < 3) {
      val df = spark.range(2000).groupBy((col("id") % 7).as("k")).count()
      df.collect()
      probes += 1
      df.queryExecution.executedPlan match {
        case aqe: AdaptiveSparkPlanExec =>
          // the final plan, query stages included
          val widths = collect(aqe) { case e: ShuffleExchangeExec => e.numPartitions }
          if (widths != Seq(width)) bad += s"probe $probes: shuffle widths $widths"
          if (find(aqe)(_.isInstanceOf[WholeStageCodegenExec]).isEmpty)
            bad += s"probe $probes: no whole-stage codegen"
        case other => bad += s"probe $probes: AQE off (${other.nodeName})"
      }
    }
    runner.join()
    assert(failure === null)
    assert(bad.isEmpty, s"${bad.size} of $probes plans: ${bad.take(5).mkString("; ")}")
  }
}
