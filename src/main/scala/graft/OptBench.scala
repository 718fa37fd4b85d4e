package graft
import org.apache.spark.sql.SparkSession

/** Round-15 optimization harness — NOT a driver surface. Times named
  * registered queries exactly the way Bench does (warm interleaved
  * min-of-N of `count()`, same session configs), so a local A/B on one
  * operator predicts its driver-bench cell; also dumps
  * `explain("formatted")` for the plans/r15 evidence files.
  *
  * Usage:
  *   runMain graft.OptBench time q1 q2 …        (OPT_RUNS, OPT_DIR env)
  *   runMain graft.OptBench explain out_dir suffix q1 q2 …
  */
object OptBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val dir = sys.env.getOrElse("OPT_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.headOption match {
      case Some("explain") =>
        val outDir = args(1); val suffix = args(2)
        new java.io.File(outDir).mkdirs()
        args.drop(3).foreach { name =>
          val plan = SparkEntry.queries(name)(spark, dir)
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
          println(s"[explain] wrote $outDir/${name}_$suffix.txt")
        }
      case Some("time") =>
        val runs = sys.env.getOrElse("OPT_RUNS", "5").toInt
        val names = args.drop(1)
        // same warmup as Bench
        spark.range(1000000).selectExpr("sum(id)").collect()
        try spark.read.parquet(s"$dir/lineitem.parquet").limit(10).collect()
        catch { case _: Throwable => () }
        val samples = scala.collection.mutable.Map.empty[String, List[Double]]
          .withDefaultValue(Nil)
        // one untimed warm pass (per-query codegen), then interleaved rounds
        names.foreach { n =>
          try SparkEntry.queries(n)(spark, dir).count()
          catch { case e: Throwable => println(s"[warm] $n FAILED: ${e.getMessage}") }
        }
        for (_ <- 1 to runs; n <- names) {
          val t0 = System.nanoTime()
          try { SparkEntry.queries(n)(spark, dir).count()
            samples(n) ::= (System.nanoTime() - t0) / 1e9 }
          catch { case _: Throwable => () }
        }
        names.foreach { n =>
          val ss = samples(n).sorted
          if (ss.isEmpty) println(f"[time] $n FAILED")
          else println(f"[time] $n min=${ss.head}%.3f med=${ss(ss.size / 2)}%.3f max=${ss.last}%.3f n=${ss.size}")
        }
      case Some("ab") =>
        // interleaved same-process A/B of a runtime SQL-conf set:
        //   OPT_CONF="k=v;k=v" — arm B sets them, arm A restores prior
        // values. Each round runs every query in both arms back to
        // back, so host drift hits both arms equally.
        val confs = sys.env.getOrElse("OPT_CONF", "").split(";")
          .filter(_.nonEmpty).map { kv =>
            val Array(k, v) = kv.split("=", 2); (k, v)
          }
        val runs = sys.env.getOrElse("OPT_RUNS", "3").toInt
        val names = args.drop(1)
        val prior = confs.map { case (k, _) =>
          (k, try Some(spark.conf.get(k)) catch { case _: Throwable => None })
        }
        def setB(): Unit = confs.foreach { case (k, v) => spark.conf.set(k, v) }
        def setA(): Unit = prior.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None)    => spark.conf.unset(k)
        }
        spark.range(1000000).selectExpr("sum(id)").collect()
        val sa = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
        val sb = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
        names.foreach { n => // warm both arms
          try { SparkEntry.queries(n)(spark, dir).count()
            setB(); SparkEntry.queries(n)(spark, dir).count(); setA() }
          catch { case e: Throwable => println(s"[warm] $n FAILED: ${e.getMessage}") }
        }
        // alternate arm order each round: a fixed A-then-B order was
        // measured to favor the second arm ~12% (warmer caches)
        for (r <- 1 to runs; n <- names) {
          def runA(): Unit = {
            val t0 = System.nanoTime()
            try { SparkEntry.queries(n)(spark, dir).count()
              sa(n) ::= (System.nanoTime() - t0) / 1e9 } catch { case _: Throwable => () }
          }
          def runB(): Unit = {
            setB()
            val t0 = System.nanoTime()
            try { SparkEntry.queries(n)(spark, dir).count()
              sb(n) ::= (System.nanoTime() - t0) / 1e9 } catch { case _: Throwable => () }
            setA()
          }
          if (r % 2 == 1) { runA(); runB() } else { runB(); runA() }
        }
        var (ta, tb) = (0.0, 0.0)
        names.foreach { n =>
          if (sa(n).nonEmpty && sb(n).nonEmpty) {
            val (ma, mb) = (sa(n).min, sb(n).min)
            ta += ma; tb += mb
            println(f"[ab] $n A=$ma%.3f B=$mb%.3f ratio=${mb / ma}%.2f")
          } else println(s"[ab] $n FAILED")
        }
        println(f"[ab] TOTAL A=$ta%.3f B=$tb%.3f ratio=${tb / ta}%.2f")
      case Some("stages") =>
        // per-stage breakdown of one warm execution: stage id, task
        // count, total task time, wall duration, name — finds WHERE a
        // query's seconds actually go
        args.drop(1).foreach { name =>
          SparkEntry.queries(name)(spark, dir).count() // warm
          val stages = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Int, Long, Long, String)]
          val jobs = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
          val listener = new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val wall = (for {s <- si.submissionTime; c <- si.completionTime}
                yield c - s).getOrElse(-1L)
              stages += ((si.stageId, si.numTasks,
                si.taskMetrics.executorRunTime, wall,
                si.name.split(" at ").headOption.getOrElse(si.name)))
            }
            override def onJobEnd(
                je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
              jobs += ((je.jobId, System.nanoTime()))
          }
          spark.sparkContext.addSparkListener(listener)
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, dir).count()
          val total = (System.nanoTime() - t0) / 1e9
          Thread.sleep(600) // let the listener bus drain
          spark.sparkContext.removeSparkListener(listener)
          println(f"[stages] $name total=$total%.3f jobs=${jobs.size} stages=${stages.size}")
          stages.sortBy(-_._4).take(12).foreach { case (id, nt, rt, wall, nm) =>
            println(f"[stages]   stage=$id tasks=$nt taskTime=${rt}ms wall=${wall}ms $nm")
          }
        }
      case Some("jobs") =>
        // every job of one warm execution: wall ms + the job group's
        // first stage name — attributes the job-count wall (which
        // phase of an iterative operator pays how many driver jobs)
        args.drop(1).foreach { name =>
          SparkEntry.queries(name)(spark, dir).count() // warm
          case class J(id: Int, t0: Long, var t1: Long = -1L,
                       var stages: Int = 0, var tasks: Int = 0,
                       var nm: String = "")
          val jobsB = scala.collection.mutable.LinkedHashMap.empty[Int, J]
          val listener = new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
              val j = J(js.jobId, js.time)
              j.stages = js.stageInfos.size
              j.tasks = js.stageInfos.map(_.numTasks).sum
              j.nm = js.stageInfos.lastOption.map(si =>
                si.name.split(" at ").headOption.getOrElse(si.name)).getOrElse("")
              jobsB.synchronized { jobsB(js.jobId) = j }
            }
            override def onJobEnd(
                je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
              jobsB.synchronized { jobsB.get(je.jobId).foreach(_.t1 = je.time) }
          }
          spark.sparkContext.addSparkListener(listener)
          val total =
            try {
              val t0 = System.nanoTime()
              SparkEntry.queries(name)(spark, dir).count()
              val t = (System.nanoTime() - t0) / 1e9
              Thread.sleep(600)
              t
            } finally spark.sparkContext.removeSparkListener(listener)
          val js = jobsB.synchronized(jobsB.values.toSeq)
          println(f"[jobs] $name total=$total%.3f njobs=${js.size}")
          js.foreach { j =>
            // a job whose end event has not arrived has no wall time
            val wall = if (j.t1 < 0) "incomplete" else s"${j.t1 - j.t0}ms"
            println(f"[jobs]   id=${j.id} wall=$wall stages=${j.stages} tasks=${j.tasks} ${j.nm}")
          }
        }
      case Some("profile") =>
        // split a query's per-sample cost: DataFrame CONSTRUCTION (incl.
        // any driver-side fixpoint loops), physical PLANNING, and
        // EXECUTION — run twice, report the second (warm) split
        args.drop(1).foreach { name =>
          for (pass <- 1 to 2) {
            val t0 = System.nanoTime()
            val df = SparkEntry.queries(name)(spark, dir)
            val t1 = System.nanoTime()
            df.queryExecution.executedPlan
            val t2 = System.nanoTime()
            df.count()
            val t3 = System.nanoTime()
            if (pass == 2)
              println(f"[profile] $name construct=${(t1 - t0) / 1e9}%.3f plan=${(t2 - t1) / 1e9}%.3f exec=${(t3 - t2) / 1e9}%.3f")
          }
        }
      case other =>
        System.err.println(s"unknown mode $other; use time|explain|profile")
    }
    spark.stop()
  }
}
