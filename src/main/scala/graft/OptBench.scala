package graft

/** Optimization harness — NOT a driver surface. Times named registered
  * queries through [[Harness.time]] with `count()`, Bench's timed
  * action on Bench's session, so a local A/B on one operator predicts
  * its driver-bench cell; also dumps `explain("formatted")` for the
  * plans/ evidence files.
  *
  * Usage:
  *   runMain graft.OptBench time q1 q2 …        (OPT_RUNS, OPT_DIR env)
  *   runMain graft.OptBench explain out_dir suffix q1 q2 …
  *   runMain graft.OptBench ab q1 q2 …          (OPT_CONF="k=v;k=v")
  *   runMain graft.OptBench jobs q1 q2 …        (jobs + slowest stages)
  *   runMain graft.OptBench profile q1 q2 …     (construct/plan/exec)
  */
object OptBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("OPT_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()
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
        Harness.time(spark, dir, args.drop(1).toSeq, runs, _.count()).foreach { t =>
          if (t.failed) println(s"[time] ${t.name} FAILED: ${t.error.get}")
          else println(f"[time] ${t.name} min=${t.min}%.3f med=${t.median}%.3f max=${t.max}%.3f n=${t.samples.size}")
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
      case Some("jobs") =>
        // every job and the 12 slowest stages of one warm execution:
        // job wall, stage/task counts, the `graft.scope` property a
        // scoped step sets, and the last stage's call site
        import org.apache.spark.scheduler._
        args.drop(1).foreach { name =>
          SparkEntry.queries(name)(spark, dir).count() // warm
          case class J(id: Int, t0: Long, stages: Int, tasks: Int,
                       scope: String, site: String, var t1: Long = -1L)
          case class S(id: Int, tasks: Int, taskMs: Long, wallMs: Long, site: String)
          def site(si: StageInfo): String = si.name.split(" at ").head
          val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
          val stages = scala.collection.mutable.ArrayBuffer.empty[S]
          val listener = new SparkListener {
            override def onJobStart(js: SparkListenerJobStart): Unit = {
              val scope = Option(js.properties)
                .flatMap(p => Option(p.getProperty(graft.api.Graft.ScopeTag))).getOrElse("-")
              val j = J(js.jobId, js.time, js.stageInfos.size,
                js.stageInfos.map(_.numTasks).sum, scope,
                js.stageInfos.lastOption.map(site).getOrElse(""))
              jobs.synchronized { jobs(js.jobId) = j }
            }
            override def onJobEnd(je: SparkListenerJobEnd): Unit =
              jobs.synchronized { jobs.get(je.jobId).foreach(_.t1 = je.time) }
            override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
                .getOrElse(-1L)
              stages.synchronized {
                stages += S(si.stageId, si.numTasks, si.taskMetrics.executorRunTime, wall, site(si))
              }
            }
          }
          spark.sparkContext.addSparkListener(listener)
          val total =
            try {
              val t0 = System.nanoTime()
              SparkEntry.queries(name)(spark, dir).count()
              val t = (System.nanoTime() - t0) / 1e9
              Thread.sleep(600) // let the listener bus drain
              t
            } finally spark.sparkContext.removeSparkListener(listener)
          val js = jobs.synchronized(jobs.values.toSeq)
          val ss = stages.synchronized(stages.toSeq)
          println(f"[jobs] $name total=$total%.3f njobs=${js.size} stages=${ss.size}")
          js.foreach { j =>
            // a job whose end event has not arrived has no wall time
            val wall = if (j.t1 < 0) "incomplete" else s"${j.t1 - j.t0}ms"
            println(s"[jobs]   id=${j.id} wall=$wall stages=${j.stages} tasks=${j.tasks} scope=${j.scope} ${j.site}")
          }
          ss.sortBy(-_.wallMs).take(12).foreach { st =>
            val wall = if (st.wallMs < 0) "incomplete" else s"${st.wallMs}ms"
            println(s"[jobs]   stage=${st.id} tasks=${st.tasks} taskTime=${st.taskMs}ms wall=$wall ${st.site}")
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
        System.err.println(s"unknown mode $other; use time|explain|ab|jobs|profile")
    }
    spark.stop()
  }
}
