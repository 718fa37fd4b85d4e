package graft
object Bench {

  /** Queries excluded from the bench headline set (still oracle-checked
    * in Verify at sf0.01). `join_asof` is the pair-materializing
    * correctness BASELINE whose scaladoc says "NOT the pattern to copy
    * at scale" (Joins.scala) — it exists to pin as-of semantics three
    * ways against one oracle, and the scale-safe routes
    * (`join_asof_merge`, `join_asof_plan`) stay in the bench. Timing a
    * deliberately-naive formulation at sf0.1 charges 14% of total bench
    * to a non-production path. `dedup_components` is the diagnostic
    * view of the SAME connected-components pipeline that `dedup_keep`
    * (the user-facing endpoint, benched) runs end-to-end — benching
    * both would charge the multi-round CC fixpoint twice for one
    * operator; `dedup_keep_policy` (the keeper-policy variant) is a
    * third run of the same fixpoint and is likewise represented in
    * the bench by `dedup_keep`, as is `dedup_split_safe` (the
    * cluster-label split rides the identical pairs→components
    * machinery, adding only a map-side hash label). */
  val benchExclude: Set[String] =
    Set("join_asof", "dedup_components", "dedup_keep_policy", "dedup_split_safe",
      // the cluster-size census is another diagnostic view over the
      // SAME pairs→CC fixpoint dedup_keep times end-to-end
      "dedup_cluster_census",
      // same principle, round 9: graph_modularity re-runs the LPA
      // fixpoint graph_label_prop times end-to-end (adding only two
      // compact aggs); sim_threshold_sweep and sim_cell_quality are
      // diagnostic views over the SAME quantizer assignment + cell
      // pair stage dedup_semantic times — benching them would charge
      // the k-means artifact and pair join a second and third time
      "graph_modularity", "sim_threshold_sweep", "sim_cell_quality")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
    // warmup: JVM/codegen/parquet-footer costs land here, not on the
    // first measured query
    spark.range(1000000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).collect()
    catch { case _: Throwable => () }
    // min-of-N (default 3), INTERLEAVED round-robin: all queries run
    // once, then all again, … — not N back-to-back runs per query.
    // This host shows sustained multi-second stalls; back-to-back
    // repeats of one query can land entirely inside a stall window and
    // charge the whole stall to that query even under min-of-N.
    // Round-robin spreads each query's samples minutes apart, so a
    // stall inflates at most one sample of many queries, and the
    // per-query min recovers the true time.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    val bench = SparkEntry.queries.toSeq.filter(q => !benchExclude(q._1)).sortBy(_._1)
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    val failed = scala.collection.mutable.Set.empty[String]
    // CALIBRATION CANARY (r13 verdict #6): cross-round comparisons on
    // this host keep leaning on "uniform drift" arguments (an 11%
    // uniform swing was measured 90 minutes apart in r13). Two
    // fixed-plan reference queries are re-timed before each round-robin
    // pass and once after the last, and every sample lands in the JSON
    // — a future reader normalizes per-query times by the canary ratio
    // of THAT run instead of guessing. Both canaries are scan-shaped
    // (one agg / one window over lineitem) so their time moves with the
    // host, not with any operator under test.
    val canaryNames = Seq("agg_pricing_summary", "win_running_total")
    val canary = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    def runCanaries(): Unit = canaryNames.foreach { cn =>
      val t0 = System.nanoTime()
      try { SparkEntry.queries(cn)(spark, sfDir).count()
        canary(cn) ::= (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => () }
    }
    // warm the canaries untimed: their first execution pays per-query
    // codegen/plan compilation, which is warmup, not host drift — an
    // unwarmed first sample read as 4x "drift" in the smoke run
    canaryNames.foreach { cn =>
      try SparkEntry.queries(cn)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    for (r <- 1 to runs) {
      runCanaries()
      for ((name, fn) <- bench) {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); samples(name) ::= (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
      }
    }
    runCanaries()
    // failures are marked -1.0 so they can't masquerade as fast runs
    val results = bench.map { case (name, _) =>
      name -> (if (failed(name)) -1.0 else samples(name).min)
    }
    // 3-decimal (ms) precision keeps the single JSON line compact —
    // the driver captures a bounded tail of stdout, and full-precision
    // doubles for 100+ queries overflowed it in round 1
    // Locale.ROOT: the f-interpolator honors the default FORMAT
    // locale, and a comma-decimal locale would emit invalid JSON
    def fmt(v: Double): String =
      if (v < 0) "-1.0"
      else String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // canary samples in RUN ORDER (they were prepended), plus the
    // drift summary: max/min over each canary's samples — 1.0 means a
    // steady host; per-query times can be trusted to ~that factor
    val canaryJson = canaryNames.map { cn =>
      val ss = canary(cn).reverse
      s"\"" + cn + "\":[" + ss.map(fmt).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // r14 verdict #2: even after the untimed warm pass, the FIRST timed
    // sample still carries residual JVM/codegen warmup (a flat host read
    // 4.0 "drift" because sample 1 was 0.738 s vs 0.28 s steady-state).
    // The drift summary therefore folds over samples 2..n only — warmup
    // is not host drift. The raw run-order samples (including #1) stay
    // in the JSON untouched for any reader who wants them.
    val drift = canaryNames.flatMap { cn =>
      val ss = canary(cn).reverse.drop(1) // run order, minus first timed sample
      if (ss.size >= 2 && ss.min > 0) Some(ss.max / ss.min) else None
    }
    val driftStr = if (drift.isEmpty) "-1.0" else fmt(drift.max)
    // STALL-PHASE indicator (r15 lesson): the canary catches UNIFORM
    // drift but not a stall phase that inflates long-running queries
    // 2-3x while short scans read near-normal (the 313->420 s ~sf1
    // episode: canary 1.3, dedup_ppjoin 3.5x — proven environmental by
    // a same-commit A/B, SCALE.md "r15 host-phase note"). The p90 of
    // per-query max/min sample spread is that signature in one number:
    // ~1.5-2 on a steady host, >3 when stalls are frequent enough that
    // min-of-3 stops recovering true times. Readers should distrust
    // cross-run comparisons of slow queries when this is high.
    val spreads = bench.collect { case (name, _)
        if !failed(name) && samples(name).size >= 2 && samples(name).min > 0 =>
      samples(name).max / samples(name).min
    }.sorted
    val stallStr =
      if (spreads.isEmpty) "-1.0" else fmt(spreads((spreads.size * 9) / 10 min (spreads.size - 1)))
    val json = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"canary":$canaryJson,"canary_drift":$driftStr,"stall_ratio_p90":$stallStr,"sf":"$sfDir"}"""
    println(json)
    // stdout gets interleaved with sbt/Spark noise and can truncate the
    // driver's parse — always leave a clean copy on disk as well
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), json)
    spark.stop()
  }
}
