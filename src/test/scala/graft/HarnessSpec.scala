package graft

import org.apache.spark.sql.DataFrame

/** `Harness.time`: one warm pass plus `runs` timed rounds per query,
  * the caller's action is what runs, and a query that is unknown or
  * throws is reported failed with no time. */
class HarnessSpec extends SparkSpec {

  private val Cheap = Seq("ref_ingest_filter", "agg_pricing_summary")

  /** An action that counts each query's rows and how often it ran,
    * keyed by the frame's columns (the two cheap queries differ). */
  private class Counting extends (DataFrame => Unit) {
    val calls = scala.collection.mutable.Map.empty[Seq[String], Int].withDefaultValue(0)
    var rows = 0L
    def apply(df: DataFrame): Unit = { calls(df.columns.toSeq) += 1; rows += df.count() }
  }

  private def columns(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).columns.toSeq

  test("an unknown or throwing query is reported failed, with no time") {
    val throwOn = columns("agg_pricing_summary")
    val ts = Harness.time(spark, sf, Seq("no_such_query") ++ Cheap, 2, df =>
      if (df.columns.toSeq == throwOn) throw new IllegalStateException("boom") else df.count())
    assert(ts.map(_.name) == Seq("no_such_query") ++ Cheap)
    val byName = ts.map(t => t.name -> t).toMap
    assert(byName("no_such_query").failed)
    assert(byName("no_such_query").samples.isEmpty)
    assert(byName("no_such_query").error.contains("unknown query"))
    assert(byName("agg_pricing_summary").failed)
    assert(byName("agg_pricing_summary").samples.isEmpty)
    assert(byName("agg_pricing_summary").error.contains("boom"))
    assert(!byName("ref_ingest_filter").failed)
    assert(byName("ref_ingest_filter").samples.size == 2)
  }

  test("each named query runs runs + 1 times: the warm pass and every timed round") {
    val action = new Counting
    val runs = 3
    val ts = Harness.time(spark, sf, Cheap, runs, action)
    assert(ts.forall(!_.failed))
    assert(ts.forall(_.samples.size == runs))
    assert(ts.forall(_.samples.forall(_ >= 0.0)))
    Cheap.foreach(name => assert(action.calls(columns(name)) == runs + 1, name))
    assert(action.calls.values.sum == Cheap.size * (runs + 1))
  }

  test("the passed action is the one executed") {
    val action = new Counting
    Harness.time(spark, sf, Seq("agg_pricing_summary"), 1, action)
    val rows = SparkEntry.queries("agg_pricing_summary")(spark, sf).count()
    assert(rows > 0)
    assert(action.rows == 2 * rows)
  }
}
