package graft

import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Structured Streaming specs: run each streaming operator over a
  * MemoryStream and check the emitted state against the batch twin's
  * semantics (Dataflow-model batch/stream parity, SURVEY.md §2.9). */
class StreamsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String, value: Double)

  case class Doc(doc_id: Long, ts: Timestamp, text: String)

  case class Vec(vec_id: Long, embedding: Seq[Float])

  private val fixture = Seq(
    Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
    Ev(2, ts("2024-01-01 00:20:00"), 1, "click", 2.0),
    Ev(3, ts("2024-01-01 01:10:00"), 2, "view", 3.0),
    Ev(4, ts("2024-01-01 01:40:00"), 2, "view", 4.0),
    Ev(5, ts("2024-01-01 03:00:00"), 1, "click", 5.0),
    Ev(5, ts("2024-01-01 03:00:00"), 1, "click", 5.0) // duplicate id+ts
  )

  private def runStream(name: String)(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                                      outputMode: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(fixture: _*)
    val q = build(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    spark.table(name)
  }

  test("tumbling window counts match hand computation") {
    val out = runStream("t_tumbling")(Streams.tumblingCounts, "append").collect()
      .map(r => (r.getAs[Timestamp]("win_start").toString, r.getAs[String]("event_type")) -> r.getAs[Long]("cnt"))
      .toMap
    // watermark closes nothing in AvailableNow? windows flush at end of stream
    assert(out.getOrElse(("2024-01-01 00:00:00.0", "click"), 0L) === 2L)
    assert(out.getOrElse(("2024-01-01 01:00:00.0", "view"), 0L) === 2L)
  }

  test("sliding windows: append mode emits only windows closed by the watermark") {
    val out = runStream("t_sliding")(Streams.slidingCounts, "append").collect()
      .map(r => r.getAs[Timestamp]("win_start").toString -> r.getAs[Long]("cnt")).toMap
    // watermark at end-of-stream = 03:00 - 10min = 02:50; only windows
    // ending ≤ 02:50 finalize: [23:00,01:00) holds e1,e2 and
    // [00:00,02:00) holds e1..e4. Later windows stay in state.
    assert(out === Map("2023-12-31 23:00:00.0" -> 2L, "2024-01-01 00:00:00.0" -> 4L))
  }

  test("streaming dedup drops the duplicate event") {
    val out = runStream("t_dedup")(Streams.dedupStream, "append")
    assert(out.count() === fixture.size - 1)
    assert(out.filter(col("event_id") === 5).count() === 1)
  }

  test("dropDuplicatesWithinWatermark collapses replays with differing timestamps") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      Ev(1, ts("2024-01-01 00:06:30"), 1, "click", 1.0), // replay, LATER ts — plain dedup(id, ts) would keep it
      Ev(2, ts("2024-01-01 00:07:00"), 2, "view", 2.0))
    val q = Streams.dedupWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("t_dedup_wm").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.table("t_dedup_wm").collect()
    assert(out.length === 2)
    assert(out.map(_.getAs[Long]("event_id")).sorted.toSeq === Seq(1L, 2L))
  }

  test("session windows split on the 30-minute gap (closed sessions only)") {
    val out = runStream("t_session")(Streams.sessionCounts, "append").collect()
    // watermark 02:50: user 1's 00:05–00:20 session (ends 00:50) is
    // closed and emitted with 2 events; the 03:00 session is still
    // open in state and withheld by append mode.
    val u1 = out.filter(_.getAs[Long]("user_id") == 1L).map(_.getAs[Long]("n_events")).toSeq
    assert(u1 === Seq(2L))
    // user 2: 01:10 and 01:40 are within the 30-min gap => one session
    // of 2 events, ends 02:10 ≤ watermark, emitted.
    val u2 = out.filter(_.getAs[Long]("user_id") == 2L).map(_.getAs[Long]("n_events")).toSeq
    assert(u2 === Seq(2L))
  }

  test("mapGroupsWithState accumulates per-user counts") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(fixture: _*)
    val q = Streams.runningUserState(spark, mem.toDF())
      .writeStream.format("memory").queryName("t_state").outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("t_state").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_events")).toMap
    assert(rows(1L) === 4L) // 3 events + 1 duplicate (no dedup in this path)
    assert(rows(2L) === 2L)
  }

  test("firstSeen emits each (user, day) once with is_new on the first day only") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    def ev(id: Long, dayOffset: Int, user: Long) =
      Ev(id, new Timestamp(1700000000000L + dayOffset * 86400000L), user, "click", 1.0)
    // batch 1: user 1 on day 0 (twice), user 2 on day 1
    mem.addData(ev(1, 0, 1), ev(2, 0, 1), ev(3, 1, 2))
    // batch 2: user 1 again day 0 (already seen) + day 2; user 3 first time
    mem.addData(ev(4, 0, 1), ev(5, 2, 1), ev(6, 2, 3))
    val q = Streams.firstSeen(spark, mem.toDF())
      .writeStream.format("memory").queryName("t_first").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("t_first").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day"), r.getAs[Boolean]("is_new")))
    // each active (user, day) emitted exactly once despite replays
    // (epoch days: 1700000000s = day 19675; offsets +1/+2 follow)
    assert(rows.map(r => (r._1, r._2)).sorted.toSeq ===
      Seq((1L, 19675L), (1L, 19677L), (2L, 19676L), (3L, 19677L)))
    val byUser = rows.groupBy(_._1)
    assert(byUser(1L).count(_._3) === 1) // exactly one is_new per user
    assert(byUser(2L).count(_._3) === 1)
    assert(byUser(3L).count(_._3) === 1)
    assert(byUser(1L).length === 2) // day 0 and day 2, day-0 replay suppressed
    // is_new lands on the smallest day for each user
    for ((u, rs) <- byUser)
      assert(rs.filter(_._3).map(_._2).head === rs.map(_._2).min)
  }

  test("streaming reference pipeline: file arrivals → accept filter → foreachBatch parquet sink") {
    import spark.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_ref_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_ref_out").toString
    // two file drops, as if two GCS notification batches landed
    Seq((1L, "tma-0", "minha-pasta/a.xlsx", 100L), (2L, "tma-1", "minha-pasta/b.csv", 200L))
      .toDF("event_id", "bucket", "name", "size_bytes").write.parquet(s"$in/drop1")
    Seq((3L, "tma-2", "outra-pasta/c.xlsx", 300L), (4L, "tma-0", "minha-pasta/d.xlsx", 400L))
      .toDF("event_id", "bucket", "name", "size_bytes").write.parquet(s"$in/drop2")
    val schema = spark.read.parquet(s"$in/drop1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/*")
    // exactly-once sink: idempotent per-batch parquet dirs keyed by
    // batchId — re-running a batch overwrites, never duplicates
    val q = graft.operators.RefPipeline.filterAccepted(stream)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$out/batch=$batchId"); ()
      }
      .option("checkpointLocation", s"$out/_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val result = spark.read.parquet(s"$out/batch=*")
    val uris = result.select("uri").collect().map(_.getString(0)).sorted
    // only the two minha-pasta/*.xlsx notifications survive
    assert(uris.toSeq === Seq("gs://tma-0/minha-pasta/a.xlsx", "gs://tma-0/minha-pasta/d.xlsx"))
  }

  test("end-to-end xlsx ETL: arrival → accept → typed read → warehouse, exactly-once across restart and replay") {
    import spark.implicits._
    import graft.sources.xlsx.XlsxParser
    val notif = java.nio.file.Files.createTempDirectory("graft_e2e_notif").toString
    val landing = java.nio.file.Files.createTempDirectory("graft_e2e_land").toString
    val wh = java.nio.file.Files.createTempDirectory("graft_e2e_wh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_e2e_ckpt").toString
    new java.io.File(s"$landing/minha-pasta").mkdirs()
    new java.io.File(s"$landing/outra-pasta").mkdirs()
    XlsxParser.write(s"$landing/minha-pasta/a.xlsx", Seq("id", "qty"),
      Seq(Seq("1", "10"), Seq("2", "20")))
    XlsxParser.write(s"$landing/outra-pasta/c.xlsx", Seq("id", "qty"),
      Seq(Seq("99", "999"))) // wrong prefix: must never be loaded
    // a real workbook OUTSIDE the landing root: a traversal-shaped
    // notification name must not be able to reach it
    XlsxParser.write(s"$landing/../evil.xlsx", Seq("id", "qty"),
      Seq(Seq("666", "666")))

    def warehouseRows(): Map[(Long, Long), String] =
      spark.read.parquet(wh).collect()
        .map(r => (r.getAs[Long]("id"), r.getAs[Long]("qty")) -> r.getAs[String]("_source_object"))
        .toMap

    // drop 1: one accepted object + two rejects (suffix, prefix) + a
    // traversal-shaped name that passes the accept predicate but must
    // be refused by the path guard
    Seq(("tma-0", "minha-pasta/a.xlsx", 1L), ("tma-0", "minha-pasta/notes.csv", 2L),
      ("tma-1", "outra-pasta/c.xlsx", 3L), ("tma-2", "minha-pasta/../../evil.xlsx", 4L))
      .toDF("bucket", "name", "size_bytes").write.parquet(s"$notif/drop1")
    Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt).awaitTermination(120000)
    assert(warehouseRows() === Map((1L, 10L) -> "minha-pasta/a.xlsx",
      (2L, 20L) -> "minha-pasta/a.xlsx")) // typed: id/qty are longs

    // drop 2 after a "restart": one NEW object + a REPLAYED
    // notification for a.xlsx (at-least-once delivery) — the replay
    // must overwrite, not duplicate
    XlsxParser.write(s"$landing/minha-pasta/b.xlsx", Seq("id", "qty"),
      Seq(Seq("3", "30")))
    Seq(("tma-0", "minha-pasta/b.xlsx", 4L), ("tma-0", "minha-pasta/a.xlsx", 5L))
      .toDF("bucket", "name", "size_bytes").write.parquet(s"$notif/drop2")
    Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt).awaitTermination(120000)
    val afterRestart = warehouseRows()
    assert(afterRestart === Map(
      (1L, 10L) -> "minha-pasta/a.xlsx", (2L, 20L) -> "minha-pasta/a.xlsx",
      (3L, 30L) -> "minha-pasta/b.xlsx"))

    // lost checkpoint: everything replays from scratch — per-object
    // overwrite keeps the warehouse byte-identical in content
    val ckpt2 = java.nio.file.Files.createTempDirectory("graft_e2e_ckpt2").toString
    Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt2).awaitTermination(120000)
    assert(warehouseRows() === afterRestart)
  }

  test("trigger envelope: maxFilesPerTrigger rate-caps the drain; interval maps to ProcessingTime") {
    import spark.implicits._
    import graft.sources.xlsx.XlsxParser
    // the reference envelope (main.tf:51-53): ≤3 instances → files per
    // trigger; 540 s timeout → micro-batch cadence
    val envelope = Streams.TriggerEnvelope(
      maxFilesPerTrigger = 1, processingInterval = Some("540 seconds"))
    assert(envelope.trigger ===
      org.apache.spark.sql.streaming.Trigger.ProcessingTime("540 seconds"))
    assert(Streams.TriggerEnvelope().trigger ===
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    intercept[IllegalArgumentException](Streams.TriggerEnvelope(maxFilesPerTrigger = 0))

    // AvailableNow + cap=1: three notification files must drain in
    // three rate-capped micro-batches, not one unbounded gulp
    val notif = java.nio.file.Files.createTempDirectory("graft_env_notif").toString
    val landing = java.nio.file.Files.createTempDirectory("graft_env_land").toString
    val wh = java.nio.file.Files.createTempDirectory("graft_env_wh").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_env_ckpt").toString
    new java.io.File(s"$landing/minha-pasta").mkdirs()
    for (i <- 1 to 3) {
      XlsxParser.write(s"$landing/minha-pasta/f$i.xlsx", Seq("id", "qty"),
        Seq(Seq(i.toString, (i * 10).toString)))
      Seq(("tma-0", s"minha-pasta/f$i.xlsx", i.toLong))
        .toDF("bucket", "name", "size_bytes").write.parquet(s"$notif/drop$i")
    }
    val q = Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt,
      envelope = Streams.TriggerEnvelope(maxFilesPerTrigger = 1))
    q.awaitTermination(120000)
    val fedBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(fedBatches >= 3,
      s"cap=1 over 3 notification files should take >=3 micro-batches, saw $fedBatches")
    assert(spark.read.parquet(wh).select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  /** Fresh (notifications, landing root, warehouse, checkpoint) dirs for
    * one xlsxEtl run; the landing root has a `minha-pasta/` folder. */
  private def xlsxDirs(tag: String): (String, String, String, String) = {
    def tmp(kind: String) = java.nio.file.Files.createTempDirectory(s"graft_${tag}_$kind").toString
    val dirs = (tmp("notif"), tmp("land"), tmp("wh"), tmp("ckpt"))
    new java.io.File(s"${dirs._2}/minha-pasta").mkdirs()
    dirs
  }

  /** One notification file per element of `drops`, each holding those
    * object names. */
  private def notifyObjects(notif: String, drops: Seq[String]*): Unit = {
    import spark.implicits._
    for ((names, i) <- drops.zipWithIndex)
      names.map(n => ("tma-0", n, 1L)).toDF("bucket", "name", "size_bytes")
        .coalesce(1).write.parquet(s"$notif/drop$i")
  }

  /** The `object=` directories of a warehouse, by name. */
  private def objectDirs(wh: String): Seq[java.io.File] =
    Option(new java.io.File(wh).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("object=")).sortBy(_.getName)

  private def whRows(wh: String): Seq[(Long, Long, String)] =
    spark.read.parquet(wh).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("qty"), r.getAs[String]("_source_object")))
      .toSeq.sorted

  test("xlsx ETL: a corrupt object fails its 3-object batch by name; siblings finish first; a fixed replay equals a clean run") {
    import graft.sources.xlsx.XlsxParser
    val (notif, landing, wh, ckpt) = xlsxDirs("fail")
    // siblings large enough to be mid-write when the truncated object
    // fails at planning
    for (o <- Seq("a", "c"))
      XlsxParser.write(s"$landing/minha-pasta/$o.xlsx", Seq("id", "qty"),
        (1 to 5000).map(i => Seq(i.toString, (i * 2).toString)))
    val bad = java.nio.file.Paths.get(s"$landing/minha-pasta/b.xlsx")
    XlsxParser.write(bad.toString, Seq("id", "qty"), Seq(Seq("7", "70")))
    val whole = java.nio.file.Files.readAllBytes(bad)
    java.nio.file.Files.write(bad, whole.take(whole.length / 2)) // no zip central directory
    notifyObjects(notif, Seq("minha-pasta/a.xlsx"), Seq("minha-pasta/b.xlsx"), Seq("minha-pasta/c.xlsx"))
    val envelope = Streams.TriggerEnvelope(maxFilesPerTrigger = 3)

    val q = Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt, envelope = envelope)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q.awaitTermination(120000))
    def chain(t: Throwable): List[Throwable] = if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(err).exists(t => String.valueOf(t.getMessage).contains("object 'minha-pasta/b.xlsx'")),
      chain(err).map(_.getMessage).mkString("\n"))
    // every sibling's directory is committed or absent when the failure
    // surfaces, and nothing is written after it
    def listing(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(wh)).map(f => f.getPath -> f.length).toMap
    }
    val atFailure = listing()
    for (o <- Seq("a", "c"))
      objectDirs(wh).filter(_.getName.startsWith(s"object=minha-pasta__$o.xlsx-")).foreach { d =>
        assert(new java.io.File(d, "_SUCCESS").exists && !new java.io.File(d, "_temporary").exists,
          s"${d.getName} is half-written: ${d.list().mkString(", ")}")
      }
    Thread.sleep(1000)
    assert(listing() === atFailure)

    // fix the object and restart on the same checkpoint: the failed batch
    // replays and must give what a clean run on a new checkpoint gives
    XlsxParser.write(bad.toString, Seq("id", "qty"), Seq(Seq("7", "70")))
    Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt, envelope = envelope).awaitTermination(120000)
    val (_, _, cleanWh, cleanCkpt) = xlsxDirs("fail_clean")
    Streams.xlsxEtl(spark, s"$notif/*", landing, cleanWh, cleanCkpt, envelope = envelope).awaitTermination(120000)
    val replayed = whRows(wh)
    assert(replayed.size === 10001)
    assert(replayed === whRows(cleanWh))
    assert(objectDirs(wh).map(_.getName) === objectDirs(cleanWh).map(_.getName))
  }

  test("xlsx ETL: duplicate notifications for one object in one batch load it once") {
    import graft.sources.xlsx.XlsxParser
    val (notif, landing, wh, ckpt) = xlsxDirs("dup")
    XlsxParser.write(s"$landing/minha-pasta/a.xlsx", Seq("id", "qty"), Seq(Seq("1", "10"), Seq("2", "20")))
    XlsxParser.write(s"$landing/minha-pasta/b.xlsx", Seq("id", "qty"), Seq(Seq("3", "30")))
    // duplicates both within one notification file and across two
    notifyObjects(notif, Seq("minha-pasta/a.xlsx", "minha-pasta/a.xlsx"), Seq("minha-pasta/a.xlsx", "minha-pasta/b.xlsx"))
    val q = Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt)
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    assert(q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq === Seq(4L),
      "all four notifications should arrive in one batch")
    val dirs = objectDirs(wh).map(_.getName)
    assert(dirs.size === 2 && dirs(0).startsWith("object=minha-pasta__a.xlsx-") &&
      dirs(1).startsWith("object=minha-pasta__b.xlsx-"), dirs) // one directory per object …
    assert(whRows(wh) === Seq((1L, 10L, "minha-pasta/a.xlsx"), (2L, 20L, "minha-pasta/a.xlsx"),
      (3L, 30L, "minha-pasta/b.xlsx"))) // … and each row once
  }

  test("xlsx ETL: concurrent loads carry the caller's job properties, and no pool thread outlives the stream") {
    import graft.sources.xlsx.XlsxParser
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val (notif, landing, wh, ckpt) = xlsxDirs("props")
    for (o <- Seq("a", "b", "c"))
      XlsxParser.write(s"$landing/minha-pasta/$o.xlsx", Seq("id", "qty"),
        (1 to 500).map(i => Seq(i.toString, (i * 10).toString)))
    notifyObjects(notif, Seq("minha-pasta/a.xlsx"), Seq("minha-pasta/b.xlsx"), Seq("minha-pasta/c.xlsx"))

    val sc = spark.sparkContext
    val key = graft.api.Graft.ScopeTag
    val tag = s"xlsx-spec:${java.util.UUID.randomUUID()}"
    val marker = s"$tag-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties).flatMap(p => Option(p.getProperty(key))).getOrElse("-"))
    }
    // (thread, tag) seen by each call of `transform`: it runs inside the load
    val loads = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val q = try Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt,
        transform = df => { loads.add(Thread.currentThread().getName -> sc.getLocalProperty(key)); df },
        envelope = Streams.TriggerEnvelope(maxFilesPerTrigger = 3))
      finally sc.setLocalProperty(key, null)
      q.awaitTermination(120000)
      assert(q.exception.isEmpty)
      assert(Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-xlsx-etl-")).isEmpty,
        "a load thread is still alive after the stream ended")
      sc.setLocalProperty(key, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(key, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      val during = jobs.asScala.takeWhile(_ != marker).toSeq
      // one name collect plus at least one write job per object
      assert(during.size >= 4, during)
      assert(during.forall(_ == tag), during)
      assert(loads.asScala.map(_._1).toSet ===
        Set("graft-xlsx-etl-1", "graft-xlsx-etl-2", "graft-xlsx-etl-3"))
      assert(loads.asScala.map(_._2).toSet === Set(tag))
      assert(whRows(wh).map(_._3).distinct ===
        Seq("minha-pasta/a.xlsx", "minha-pasta/b.xlsx", "minha-pasta/c.xlsx"))
    } finally sc.removeSparkListener(listener)
  }

  test("xlsx ETL: stop() during concurrent loads ends the stream as stopped, with every load thread gone") {
    import graft.sources.xlsx.XlsxParser
    import scala.jdk.CollectionConverters._
    val (notif, landing, wh, ckpt) = xlsxDirs("stop")
    for (o <- Seq("a", "b", "c"))
      XlsxParser.write(s"$landing/minha-pasta/$o.xlsx", Seq("id", "qty"), Seq(Seq("1", "10")))
    notifyObjects(notif, Seq("minha-pasta/a.xlsx"), Seq("minha-pasta/b.xlsx"), Seq("minha-pasta/c.xlsx"))
    // every load blocks until interrupted, so stop() lands mid-batch
    val started = new java.util.concurrent.CountDownLatch(3)
    val never = new java.util.concurrent.CountDownLatch(1)
    val q = Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt,
      transform = df => { started.countDown(); never.await(); df },
      envelope = Streams.TriggerEnvelope(maxFilesPerTrigger = 3))
    assert(started.await(60, java.util.concurrent.TimeUnit.SECONDS), "the three loads never started")
    val stopper = new Thread(() => q.stop())
    stopper.start()
    stopper.join(60000)
    assert(!stopper.isAlive, "stop() did not return")
    assert(!q.isActive && q.exception.isEmpty, q.exception)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-xlsx-etl-")))
    assert(objectDirs(wh).isEmpty)
  }

  test("xlsx ETL: a lone object loads on the pool too, and a fatal load error reaches the stream unwrapped") {
    import graft.sources.xlsx.XlsxParser
    import scala.jdk.CollectionConverters._
    val (notif, landing, wh, ckpt) = xlsxDirs("lone")
    XlsxParser.write(s"$landing/minha-pasta/a.xlsx", Seq("id", "qty"), Seq(Seq("1", "10")))
    notifyObjects(notif, Seq("minha-pasta/a.xlsx"))
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = Streams.xlsxEtl(spark, s"$notif/*", landing, wh, ckpt,
      transform = df => { threads.add(Thread.currentThread().getName); df })
    q.awaitTermination(120000)
    assert(q.exception.isEmpty)
    assert(threads.asScala.toSeq === Seq("graft-xlsx-etl-1"))
    assert(whRows(wh) === Seq((1L, 10L, "minha-pasta/a.xlsx")))

    // a fatal error is not turned into an ordinary batch failure
    val (notif2, landing2, wh2, ckpt2) = xlsxDirs("fatal")
    for (o <- Seq("a", "b"))
      XlsxParser.write(s"$landing2/minha-pasta/$o.xlsx", Seq("id", "qty"), Seq(Seq("1", "10")))
    notifyObjects(notif2, Seq("minha-pasta/a.xlsx"), Seq("minha-pasta/b.xlsx"))
    val fatal = new LinkageError("xlsx ETL spec: fatal load error")
    val q2 = Streams.xlsxEtl(spark, s"$notif2/*", landing2, wh2, ckpt2,
      transform = _ => throw fatal)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](q2.awaitTermination(120000))
    assert(err.getCause eq fatal, err.getCause)
    assert(!Thread.getAllStackTraces.keySet.asScala.exists(_.getName.startsWith("graft-xlsx-etl-")))
    assert(objectDirs(wh2).isEmpty)
  }

  test("streaming corpus ingestion: digest dedup + quality gate + BPE count on a stream") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Doc]
    mem.addData(
      Doc(1, ts("2024-01-01 00:00:00"), "the cat sat on the mat"),
      Doc(2, ts("2024-01-01 00:01:00"), "the cat sat on the mat"), // exact dup, later id
      Doc(3, ts("2024-01-01 00:02:00"), "x"),                      // too-short -> gated
      Doc(4, ts("2024-01-01 00:03:00"), "a dog in the park"))
    val q = Streams.corpusIngest(mem.toDF())
      .select(col("doc_id"), col("n_tokens"))
      .writeStream.format("memory").queryName("t_corpus").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.table("t_corpus").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_tokens")).toMap
    assert(out.keySet === Set(1L, 4L)) // dup 2 dropped, short 3 gated
    // stream-side BPE equals the batch counter
    assert(out(1L) === graft.functions.BpeVocab.countTokens("the cat sat on the mat"))
    assert(out(4L) === graft.functions.BpeVocab.countTokens("a dog in the park"))
  }

  test("streaming near-dup dedup: first arrival per minhash signature wins, near-identical later docs drop") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Doc]
    // docs 1 and 2 differ ONLY outside any 3-shingle band minimum
    // change (identical text -> identical sig); doc 3 is genuinely new
    mem.addData(
      Doc(1, ts("2024-01-01 00:00:00"), "the cat sat on the mat today"),
      Doc(2, ts("2024-01-01 00:01:00"), "the cat sat on the mat today"),
      Doc(3, ts("2024-01-01 00:02:00"), "an entirely different document body"))
    val q = Streams.nearDupIngest(mem.toDF())
      .select(col("doc_id"), col("sig"))
      .writeStream.format("memory").queryName("t_neardup").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.table("t_neardup").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("sig")).toMap
    assert(out.keySet === Set(1L, 3L), s"dup doc 2 must drop: $out")
    // stream-side signature equals the batch expression (one definition)
    val batchSig = Seq("the cat sat on the mat today").toDF("text")
      .select(graft.api.Graft.minhashSignature(col("text"))).first().getString(0)
    assert(out(1L) === batchSig)
  }

  test("streaming IVF-PQ encode equals the batch index entries (zero-state projection)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val ops = graft.operators.Similarity
    val (k, _) = ops.ivfParams(spark, sf)
    val cents = ops.centsLiteral(ops.centroidRows(spark, sf, k))
    val cb = ops.pqCbLiteral(ops.ivfPqCodebookRows(spark, sf))
    // five corpus vectors arrive "live"
    val sample = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(5)
      .collect().map(r => Vec(r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[Vec]
    mem.addData(sample.toIndexedSeq)
    val q = Streams.embeddingIngest(mem.toDF(), cents, cb)
      .writeStream.format("memory").queryName("t_emb").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("t_emb").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    // batch twin over the same five rows, same literals
    val batch = Streams.embeddingIngest(
        Tables.embeddings(spark, sf)
          .select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(5),
        cents, cb)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getSeq[Long](2)))).toMap
    assert(streamed === batch)
    assert(streamed.size === 5)
  }

  test("flatMapGroupsWithState emits once when the error threshold is crossed") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "error", 0),
      Ev(2, ts("2024-01-01 00:01:00"), 1, "error", 0),
      Ev(3, ts("2024-01-01 00:02:00"), 2, "error", 0),
      Ev(4, ts("2024-01-01 00:03:00"), 1, "error", 0)) // already past threshold: no re-emit
    val q = Streams.errorBursts(spark, mem.toDF())
      .writeStream.format("memory").queryName("t_bursts").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("t_bursts").collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("error_count")).toMap
    assert(rows === Map(1L -> 3L)) // user 1 crossed 2; user 2 only has 1 error
  }

  test("stream-static enrichment join decorates events with dimension rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("dim_user", "tier")
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 00:01:00"), 2, "view", 2.0),
      Ev(3, ts("2024-01-01 00:02:00"), 9, "click", 3.0)) // no dim row -> null tier
    val q = Streams.enrichWithDim(mem.toDF(), dim, "user_id", "dim_user")
      .select(col("event_id"), col("tier"))
      .writeStream.format("memory").queryName("t_enrich").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val out = spark.table("t_enrich").collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
    assert(out === Map(1L -> "gold", 2L -> "silver", 3L -> null))
  }

  test("stateful aggregation runs on the RocksDB state store provider") {
    // the disk-backed state store is what bounds executor memory when
    // streaming state grows to 100 TB-scale key spaces; the operator
    // code must be provider-agnostic
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val mem = MemoryStream[Ev]
      mem.addData(fixture: _*)
      val q = Streams.tumblingCounts(mem.toDF())
        .writeStream.format("memory").queryName("t_rocksdb").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      val out = spark.table("t_rocksdb").collect()
        .map(r => (r.getAs[Timestamp]("win_start").toString, r.getAs[String]("event_type")) -> r.getAs[Long]("cnt"))
        .toMap
      assert(out.getOrElse(("2024-01-01 00:00:00.0", "click"), 0L) === 2L)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stateful FAMILY is provider-agnostic: near-dup ingest, session windows, firstSeen under RocksDB") {
    // r15 verdict #5: the whole stateful family (not just one agg)
    // must produce identical results on the disk-backed store that a
    // 100 TB deployment runs — same fixtures + assertions as the
    // default-provider tests above
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // near-dup ingest: first arrival per signature wins
      val md = MemoryStream[Doc]
      md.addData(
        Doc(1, ts("2024-01-01 00:00:00"), "the cat sat on the mat today"),
        Doc(2, ts("2024-01-01 00:01:00"), "the cat sat on the mat today"),
        Doc(3, ts("2024-01-01 00:02:00"), "an entirely different document body"))
      val q1 = Streams.nearDupIngest(md.toDF()).select(col("doc_id"))
        .writeStream.format("memory").queryName("t_rdb_neardup").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q1.awaitTermination(60000)
      assert(spark.table("t_rdb_neardup").collect()
        .map(_.getAs[Long]("doc_id")).toSet === Set(1L, 3L))
      // session windows: same closed sessions as the default provider
      val out = runStream("t_rdb_session")(Streams.sessionCounts, "append").collect()
      assert(out.filter(_.getAs[Long]("user_id") == 1L)
        .map(_.getAs[Long]("n_events")).toSeq === Seq(2L))
      assert(out.filter(_.getAs[Long]("user_id") == 2L)
        .map(_.getAs[Long]("n_events")).toSeq === Seq(2L))
      // firstSeen: flatMapGroupsWithState emission set unchanged
      val mf = MemoryStream[Ev]
      def ev(id: Long, dayOffset: Int, user: Long) =
        Ev(id, new Timestamp(1700000000000L + dayOffset * 86400000L), user, "click", 1.0)
      mf.addData(ev(1, 0, 1), ev(2, 0, 1), ev(3, 1, 2))
      mf.addData(ev(4, 0, 1), ev(5, 2, 1), ev(6, 2, 3))
      val q3 = Streams.firstSeen(spark, mf.toDF())
        .writeStream.format("memory").queryName("t_rdb_first").outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q3.awaitTermination(60000)
      val rows = spark.table("t_rdb_first").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("day")))
      assert(rows.sorted.toSeq ===
        Seq((1L, 19675L), (1L, 19677L), (2L, 19676L), (3L, 19677L)))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-stream interval join matches errors to following purchases") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val errs = MemoryStream[Ev]
    val purch = MemoryStream[Ev]
    errs.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "error", 0))
    purch.addData(
      Ev(2, ts("2024-01-01 10:30:00"), 1, "purchase", 9.5), // within the hour → match
      Ev(3, ts("2024-01-01 12:00:00"), 1, "purchase", 1.0), // too late
      Ev(4, ts("2024-01-01 10:15:00"), 2, "purchase", 2.0)) // other user
    val q = Streams.errorThenPurchase(errs.toDF(), purch.toDF())
      .writeStream.format("memory").queryName("t_ssjoin").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.table("t_ssjoin").collect()
      .map(r => (r.getAs[Long]("err_id"), r.getAs[Long]("p_id")))
    assert(rows.toSeq === Seq((1L, 2L)))
  }

  test("watermarked aggregation recovers checkpointed state across restart (exactly-once)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val in = java.nio.file.Files.createTempDirectory("graft_ckpt_in").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val evCols = Seq("event_id", "ts", "user_id", "event_type", "value")
    // (win_start, event_type) -> cnt, tagged with batchId so later
    // emissions supersede earlier ones when reconciling update mode
    def runOnce(buf: scala.collection.mutable.ArrayBuffer[((String, String), Long, Long)]) = {
      val schema = spark.read.parquet(s"$in/drop1").schema
      val stream = spark.readStream.schema(schema).parquet(s"$in/*")
      val q = stream.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").cast("string").as("win_start"),
          col("event_type"), col("cnt"))
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
          batch.collect().foreach { r =>
            buf += (((r.getString(0), r.getString(1)), r.getLong(2), batchId))
          }
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      q
    }
    Seq(
      (1L, ts("2024-01-01 00:05:00"), 1L, "click", 1.0),
      (2L, ts("2024-01-01 00:20:00"), 1L, "click", 2.0),
      (3L, ts("2024-01-01 01:10:00"), 2L, "view", 3.0))
      .toDF(evCols: _*).write.parquet(s"$in/drop1")
    val run1 = scala.collection.mutable.ArrayBuffer.empty[((String, String), Long, Long)]
    runOnce(run1)
    assert(run1.exists { case (k, cnt, _) => k == (("2024-01-01 00:00:00", "click")) && cnt == 2L })
    // files land AFTER the first query stopped; the restart must resume
    // from the checkpoint, not reprocess drop1
    Seq(
      (4L, ts("2024-01-01 00:40:00"), 1L, "click", 1.0),
      (5L, ts("2024-01-01 01:50:00"), 2L, "view", 1.0))
      .toDF(evCols: _*).write.parquet(s"$in/drop2")
    val run2 = scala.collection.mutable.ArrayBuffer.empty[((String, String), Long, Long)]
    val q2 = runOnce(run2)
    // only drop2's 2 rows were read in run 2 — drop1 is checkpointed as
    // processed (file-source exactly-once input tracking)
    assert(q2.recentProgress.map(_.numInputRows).sum === 2L)
    // the hour-0 click count CONTINUES from recovered state: 2 + 1 = 3
    // (a state-loss restart that read only drop2 would emit 1)
    assert(run2.exists { case (k, cnt, _) => k == (("2024-01-01 00:00:00", "click")) && cnt == 3L })
    // reconcile: last emission per key across both runs equals the
    // batch twin over the full input — exactly-once end to end
    val finalCounts = (run1.map { case (k, c, b) => (k, c, (0L, b)) } ++
      run2.map { case (k, c, b) => (k, c, (1L, b)) })
      .groupBy(_._1).map { case (k, emits) => k -> emits.maxBy(_._3)._2 }
    val twin = spark.read.parquet(s"$in/*")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").cast("string"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(finalCounts === twin)
  }

  test("file-arrival stream ingests parquet drops incrementally (reference S1 analog)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)))
    Seq((1L, "minha-pasta/a.xlsx"), (2L, "other/b.csv"))
      .toDF("event_id", "name").write.parquet(s"$dir/batch1")
    val stream = Streams.fileArrivals(spark, s"$dir/batch1", schema)
      .filter(col("name").endsWith(".xlsx"))
    val q = stream.writeStream.format("memory").queryName("t_files").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(spark.table("t_files").count() === 1)
  }

  test("streaming DQ gate: observe() reports per-batch violation counts, zero extra passes") {
    import spark.implicits._
    import graft.api.DataQuality._
    implicit val sq = spark.sqlContext
    // the same check ADT as the batch suite, compiled to observe()
    // aggregates — every micro-batch reports its violations through
    // observedMetrics while rows flow to the sink untouched
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 00:06:00"), 2, "view", -3.0),  // range violation
      Ev(3, ts("2024-01-01 00:07:00"), 3, "bogus", 2.0),  // enum violation
      Ev(4, ts("2024-01-01 00:08:00"), 4, "view", 4.0))
    val aggs = rowCheckAggs(Seq(
      InRange("value", 0.0, 1e6),
      InSet("event_type", Seq("click", "view", "purchase", "signup", "error"))))
    val gated = mem.toDF().observe("dq", aggs.head, aggs.tail: _*)
    val q = gated.writeStream.format("memory").queryName("t_dq_gate")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    // all rows reach the sink (the gate OBSERVES; dropping is a
    // downstream policy decision made on the reported counts)
    assert(spark.table("t_dq_gate").count() === 4)
    val dq = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("dq"))).lastOption
      .getOrElse(fail("no observed dq metrics in progress"))
    assert(dq.getAs[Long]("range_value") === 1L)
    assert(dq.getAs[Long]("enum_event_type") === 1L)
  }

  test("streaming CDC upsert: batched merge converges to the one-pass fixpoint") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = java.nio.file.Files.createTempDirectory("graft_cdc_in").toString
    val st = java.nio.file.Files.createTempDirectory("graft_cdc_st").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_cdc_ck").toString
    // drop 1: users 1 and 2 appear
    Seq((1L, ts("2024-01-01 10:00:00"), 1L, "signup", 1.0),
      (2L, ts("2024-01-01 10:05:00"), 2L, "signup", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$in/drop1")
    // drop 2: user 1 updates, user 2 tombstones, user 3 inserts
    Seq((3L, ts("2024-01-01 11:00:00"), 1L, "purchase", 9.0),
      (4L, ts("2024-01-01 11:01:00"), 2L, "error", 0.0),
      (5L, ts("2024-01-01 11:02:00"), 3L, "view", 3.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$in/drop2")
    // maxFilesPerTrigger = 1 → the two drops merge across SEPARATE
    // micro-batches, exercising the sequential-merge path
    Streams.cdcUpsertStream(spark, s"$in/*", st, ck,
      Streams.TriggerEnvelope(maxFilesPerTrigger = 1)).awaitTermination(120000)
    val got = Streams.currentView(spark, st)
      .select(col("user_id"), col("state"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1L, "purchase", 9.0), (3L, "view", 3.0)))
    // tombstone retained in state (not resurrect-able), hidden in view
    assert(Streams.currentState(spark, st).count() === 3)
    // replaying the last batch's write is idempotent: same dir, same
    // rows (materialized first — a real replay recomputes from the
    // checkpointed source, it never reads the dir it overwrites)
    val cur = Streams.currentState(spark, st)
    val replay = spark.createDataFrame(
      new java.util.ArrayList(java.util.Arrays.asList(cur.collect(): _*)), cur.schema)
    replay.write.mode("overwrite").parquet(s"$st/v=1")
    assert(Streams.currentView(spark, st).count() === 2)
    // time travel: version 0 still shows the pre-merge world — user 2
    // alive, user 1 at its first state, user 3 not yet born
    assert(Streams.stateVersions(st) === Seq(0L, 1L))
    val v0 = Streams.stateAt(spark, st, 0L)
      .select(col("user_id"), col("state")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    assert(v0.toSeq === Seq(1L -> "signup", 2L -> "signup"))
  }

  test("streaming drift gate: observe() reports per-batch Welch z vs the reference profile") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // reference profile trained from the bounded embeddings table —
    // the bounded model artifact the stream compares against
    val dims = Seq(1, 2, 3)
    val ref = Streams.dimProfiles(spark, sf, dims)
    assert(ref.map(_.pos) === dims)
    // batch 1: vectors drawn AT the reference means → z ≈ 0 for every
    // monitored dim; batch 2: dim 1 shifted far out → big z there only
    val dim = 64
    def mkVec(id: Long, shift1: Double): Vec = Vec(id,
      (1 to dim).map(p => (ref.find(_.pos == p).map(_.mean).getOrElse(0.0)
        + (if (p == 1) shift1 else 0.0)).toFloat))
    val mem = MemoryStream[Vec]
    mem.addData((1L to 50L).map(i => mkVec(i, 0.0)): _*)
    val gated = mem.toDF().observe("drift",
      Streams.driftAggs(ref).head, Streams.driftAggs(ref).tail: _*)
    val q = gated.writeStream.format("memory").queryName("t_drift_gate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      mem.addData((51L to 100L).map(i => mkVec(i, 5.0)): _*)
      q.processAllAvailable()
      val rows = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("drift"))).toSeq
      assert(rows.nonEmpty, "no observed drift metrics in progress")
      val calm = rows.head
      val drifted = rows.last
      assert(calm.getAs[Long]("n_rows") === 50L)
      // identical-to-reference batch: all monitored dims quiet
      for (p <- dims) assert(calm.getAs[Double](s"z_dim_$p") < 3.0,
        s"dim $p flagged on the calm batch")
      // shifted batch: ONLY dim 1 crosses the 3-sigma line
      assert(drifted.getAs[Double]("z_dim_1") > 3.0, "shift not detected")
      for (p <- dims.drop(1)) assert(drifted.getAs[Double](s"z_dim_$p") < 3.0,
        s"dim $p false-flagged")
    } finally q.stop()
  }

  test("streaming CDC upsert: post-swing replay short-circuits instead of crash-looping") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val st = java.nio.file.Files.createTempDirectory("graft_cdc_rp").toString
    val b0 = Seq((1L, ts("2024-01-01 10:00:00"), 1L, "signup", 1.0),
      (2L, ts("2024-01-01 10:05:00"), 2L, "signup", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val b1 = Seq((3L, ts("2024-01-01 11:00:00"), 1L, "purchase", 9.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    Streams.cdcCommitBatch(spark, b0, 0L, st)
    Streams.cdcCommitBatch(spark, b1, 1L, st)
    val want = Streams.currentState(spark, st)
      .select(col("user_id"), col("state"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(want === Seq((1L, "purchase", 9.0), (2L, "signup", 2.0)))
    // The failure mode this pins: the stream crashed AFTER _LATEST
    // swung to 1 but BEFORE the checkpoint committed, so on restart
    // foreachBatch re-runs with the SAME batchId. Pre-fix, the merge
    // read currentState from v=1 and overwrote v=1 in place — Spark
    // throws "Cannot overwrite a path that is also being read from"
    // and the stream can never recover. Post-fix it must no-op.
    Streams.cdcCommitBatch(spark, b1, 1L, st)
    val got = Streams.currentState(spark, st)
      .select(col("user_id"), col("state"), col("value")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(got === want)
    assert(Streams.stateVersions(st) === Seq(0L, 1L))
  }
}
