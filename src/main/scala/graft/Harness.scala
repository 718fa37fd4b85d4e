package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session and the one per-query timing loop the repo's mains
  * share (Bench, OptBench, Verify, ScaleProbe, PlanSurvey), so every
  * number and every committed plan comes from the same engine
  * configuration. Not a library surface: library callers bring their
  * own session.
  */
object Harness {

  /** `local[SPARK_GRAFT_CPUS]` (default 4) with one shuffle partition
    * per core, the engine's extensions (native functions, the
    * HOF→native rewrite, the as-of planner), UI off, UTC session time
    * and WARN logging. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One query's timing: its warm samples in seconds, or why it failed.
    * A failed query has no samples. */
  final case class Timing(name: String, samples: Seq[Double], error: Option[String]) {
    def failed: Boolean = error.isDefined
    def min: Double = samples.min
    def median: Double = samples.sorted.apply(samples.size / 2)
    def max: Double = samples.max
  }

  /** Times named registered queries: one untimed warm pass per query
    * (per-query codegen and plan compilation), then `runs` interleaved
    * rounds — every query once, then every query again — so a host
    * stall inflates one sample of many queries rather than every
    * sample of one. `action` is what a sample times, e.g. `_.count()`
    * or a full-output noop write. A name that is unknown or whose
    * query throws, warm or timed, is reported failed with no samples
    * and is not run again. Results come back in `names` order. */
  def time(spark: SparkSession, dir: String, names: Seq[String], runs: Int,
           action: DataFrame => Unit): Seq[Timing] = {
    val registry = SparkEntry.queries // a def that rebuilds the map: read it once
    val errors = scala.collection.mutable.Map.empty[String, String]
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    def run(name: String): Unit = registry.get(name) match {
      case None => errors(name) = "unknown query"
      case Some(fn) =>
        try action(fn(spark, dir))
        catch { case e: Throwable => errors(name) = String.valueOf(e.getMessage) }
    }
    names.foreach(run)
    for (_ <- 1 to runs; name <- names if !errors.contains(name)) {
      val t0 = System.nanoTime()
      run(name)
      if (!errors.contains(name)) samples(name) ::= (System.nanoTime() - t0) / 1e9
    }
    names.map { name =>
      errors.get(name) match {
        case Some(e) => Timing(name, Nil, Some(e))
        case None => Timing(name, samples(name).reverse, None)
      }
    }
  }
}
