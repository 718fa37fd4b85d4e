package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}
import graft.sources.xlsx.XlsxParser
import graft.streaming.Streams

/** The benchmark's client. One JVM, one `local[N]` session, one client
  * thread driving the library through its public entry points.
  *
  * It writes every raw measurement (samples, output checksums, object
  * timelines, spans) as one JSON document to `--out`; `run.py` turns that
  * document into metrics. See README.md beside this file.
  */
object Main {

  val workloads: Map[String, Seq[String]] = Map(
    "etl_mix" -> Seq("ref_ingest_filter", "ref_reject_split", "q3_shipping_priority",
      "q5_local_supplier_volume", "q10_returned_customers", "agg_pricing_summary", "etl_scd2",
      "etl_merge_upsert"),
    "xlsx_arrivals" -> Nil)

  /** Queries the traced run of `xlsx_arrivals` drives so the operator,
    * Catalyst and exec layers are measured there too: the reference's own
    * accept/reject filter as a batch query. */
  val probeQueries = Seq("ref_ingest_filter", "ref_reject_split")

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, tables: String, out: String, cores: Int,
                        openRate: Double, openCount: Int, backlog: Int)

  private def parse(argv: Array[String]): Conf = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("tables"), need("out"), need("cores").toInt,
      need("open-rate").toDouble, need("open-count").toInt, need("backlog").toInt)
  }

  // epoch seconds with nanosecond-clock resolution, comparable with the
  // millisecond epoch times Spark's listener events carry
  private val epoch0 = System.currentTimeMillis() / 1000.0
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e9

  def main(argv: Array[String]): Unit = {
    val conf = parse(argv)
    require(workloads.contains(conf.workload), s"unknown workload ${conf.workload}")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    val spark = SparkSession.builder()
      .master(s"local[${conf.cores}]")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = now() - jvmStart
    try {
      val out = new Bench(spark, conf).run() + ("session_s" -> sessionS)
      Files.writeString(Paths.get(conf.out), Json(out))
    } finally spark.stop()
  }
}

final class Bench(spark: SparkSession, conf: Main.Conf) {
  import Main.now

  private val trace = new Trace(spark.sparkContext, () => now())
  private val rng = new java.util.Random(conf.seed)
  private val errors = ArrayBuffer.empty[String]
  private val tablesDir = conf.tables
  private val queryFns = SparkEntry.queries

  def run(): Map[String, Any] = {
    val body =
      if (conf.workload == "xlsx_arrivals") new XlsxArrivals().run()
      else new QueryLoop(Main.workloads(conf.workload)).run()
    val probes = if (conf.trace) layerProbes() else Map.empty[String, Any]
    trace.stop()
    body ++ Map("workload" -> conf.workload, "seed" -> conf.seed, "cores" -> conf.cores,
      "probes" -> probes, "errors" -> errors.toSeq) ++ trace.toJson
  }

  private def fail(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    errors += msg
    System.err.println(s"[perfbench] $msg")
  }

  // ---------------------------------------------------------------- queries

  /** Order-insensitive content checksum of a frame: row count plus the sum
    * of a 64-bit hash per row. Floating-point values are hashed at six
    * significant digits so a change of summation order is not a mismatch. */
  def checksum(df: DataFrame): (Long, String) = {
    def canon(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.5e", c.cast("double") + lit(0.0))
      case ArrayType(et, _) => transform(c, x => canon(x, et))
      case st: StructType => struct(st.fields.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
      case MapType(kt, vt, _) =>
        canon(array_sort(map_entries(c)), ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
      case _ => c
    }
    val h = xxhash64(df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType)).toSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    (r.getLong(0), s"${if (r.isNullAt(1)) 0 else r.getLong(1)}:${if (r.isNullAt(2)) 0 else r.getLong(2)}")
  }

  private def countNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => countNodes(a.executedPlan)
    case s: QueryStageExec => 1 + countNodes(s.plan)
    case other => 1 + other.children.map(countNodes).sum + other.subqueries.map(countNodes).sum
  }

  /** construct → executedPlan → full output to the noop sink, each step
    * in its own span. Returns the latency, or None if the query failed. */
  private def runQuery(name: String): Option[Double] = {
    val t0 = now()
    try {
      trace.span(s"query:$name") {
        val df = trace.span("construct")(queryFns(name)(spark, tablesDir))
        trace.span("plan") {
          val nodes = countNodes(df.queryExecution.executedPlan)
          val phases = df.queryExecution.tracker.phases
          def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
          trace.note("nodes" -> nodes, "analysis_ms" -> ms("analysis"),
            "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
        }
        trace.span("exec")(df.write.format("noop").mode("overwrite").save())
      }
      Some(now() - t0)
    } catch { case NonFatal(e) => fail(s"query $name", e); None }
  }

  final class QueryLoop(names: Seq[String]) {
    def run(): Map[String, Any] = {
      val missing = names.filterNot(queryFns.contains)
      require(missing.isEmpty, s"queries not registered: ${missing.mkString(", ")}")
      // warm-up: a first execution of every query, which also checks its
      // output, then an untimed pass down the timed path, so the JIT has
      // settled before the first timed pass
      val w0 = now()
      val checks = names.map { n =>
        try {
          val (rows, hash) = checksum(queryFns(n)(spark, tablesDir))
          Map("name" -> n, "rows" -> rows, "hash" -> hash)
        } catch { case NonFatal(e) => fail(s"check $n", e); Map("name" -> n, "rows" -> -1L, "hash" -> "") }
      }
      names.foreach(runQuery)
      val warmS = now() - w0
      // closed loop, one client: passes over a seeded order that rotates by
      // one query per pass; the traced run alternates traced and untraced passes
      val base = scala.util.Random.javaRandomToRandom(rng).shuffle(names)
      val samples = ArrayBuffer.empty[Map[String, Any]]
      val passes = ArrayBuffer.empty[Map[String, Any]]
      val start = now()
      val deadline = start + conf.seconds
      // the traced run needs one traced and one untraced complete pass
      val minPasses = if (conf.trace) 2 else 1
      def more = now() < deadline || passes.size < minPasses
      var p = 0
      while (more) {
        val traced = conf.trace && p % 2 == 1
        if (traced) trace.start() else trace.stop()
        val order = base.drop(p % names.size) ++ base.take(p % names.size)
        val p0 = now()
        var done = 0
        trace.span(s"pass:$p") {
          order.takeWhile(_ => more).foreach { n =>
            val s0 = now()
            val lat = runQuery(n)
            samples += Map("name" -> n, "pass" -> p, "start" -> s0, "end" -> now(),
              "latency" -> lat.getOrElse(-1.0), "ok" -> lat.isDefined, "traced" -> traced)
            done += 1
          }
        }
        passes += Map("pass" -> p, "start" -> p0, "end" -> now(), "complete" -> (done == names.size),
          "traced" -> traced)
        p += 1
      }
      Map("warm_s" -> warmS, "checks" -> checks, "samples" -> samples.toSeq, "passes" -> passes.toSeq,
        "measure_start" -> start, "measure_end" -> now())
    }
  }

  // ------------------------------------------------------------ xlsx objects

  private val landing = s"${conf.work}/landing"
  private lazy val lineitemRows: IndexedSeq[Seq[String]] = {
    val li = spark.read.parquet(s"$tablesDir/lineitem.parquet")
    li.select(li.columns.map(c => col(c).cast("string")).toSeq: _*).limit(40000).collect()
      .map(r => r.toSeq.map(v => if (v == null) null else v.toString)).toIndexedSeq
  }
  private lazy val header: Seq[String] = spark.read.parquet(s"$tablesDir/lineitem.parquet").columns.toSeq

  /** One notification and the object it names. `kind` is "ok" for an object
    * the reference accepts, else the reject case it replays (main.py:12). */
  final case class Obj(id: Int, kind: String, name: String, rows: Int)

  private val decoyKinds = Seq("csv", "folder", "upper", "null")

  /** Seeded objects: `decoysPerFive` decoys in every five notifications
    * (their slots drawn from the seed; their kinds cycle through the four
    * reject cases from a seeded start) and, among the accepted objects, one
    * in `largeEvery` large (20,000 ± 500 rows, at seeded positions), the
    * rest small (200 ± 10 rows). `largeEvery = 0` makes them all small.
    * Sizes vary little, so the seed moves where work lands, not how much. */
  def makeObjects(first: Int, n: Int, largeEvery: Int = 10, decoysPerFive: Int = 1): Seq[Obj] = {
    val random = scala.util.Random.javaRandomToRandom(rng)
    val isDecoy = (0 until n by 5).flatMap { g =>
      val slots = random.shuffle((0 until 5).toList).take(decoysPerFive).toSet
      (0 until math.min(5, n - g)).map(slots)
    }
    val accepted = isDecoy.count(!_)
    val nLarge = if (largeEvery == 0) 0 else math.round(accepted.toDouble / largeEvery).toInt
    val large = random.shuffle((0 until accepted).toList).take(nLarge).toSet
    val kind0 = rng.nextInt(decoyKinds.size)
    var a = 0
    var d = 0
    (0 until n).map { k =>
      val id = first + k
      val tag = f"obj_$id%05d_${rng.nextInt(1 << 20)}%05x"
      if (isDecoy(k)) {
        d += 1
        decoyKinds((kind0 + d) % decoyKinds.size) match {
          case "csv" => Obj(id, "csv", s"minha-pasta/$tag.csv", 0)
          case "folder" => Obj(id, "folder", s"outra-pasta/$tag.xlsx", 0)
          case "upper" => Obj(id, "upper", s"minha-pasta/$tag.XLSX", 0)
          case _ => Obj(id, "null", null, 0)
        }
      } else {
        val rows = if (large(a)) 19500 + rng.nextInt(1001) else 190 + rng.nextInt(21)
        a += 1
        Obj(id, "ok", s"minha-pasta/$tag.xlsx", rows)
      }
    }
  }

  /** `n` more objects replaying `pool`'s mix from a seeded offset: each is a
    * copy of a pool object's file under a new name. */
  def cloneObjects(pool: Seq[Obj], first: Int, n: Int): Seq[Obj] = {
    val off = rng.nextInt(pool.size)
    (0 until n).map { k =>
      val src = pool((off + k) % pool.size)
      val id = first + k
      val name = Option(src.name).map(_.replace(f"obj_${src.id}%05d_", f"obj_$id%05d_")).orNull
      if (name != null) Files.copy(Paths.get(s"$landing/${src.name}"), Paths.get(s"$landing/$name"))
      Obj(id, src.kind, name, src.rows)
    }
  }

  /** Writes each new object under `landing/` (decoys too, so a decoy that
    * got through the filter would be read). */
  def writeObjects(objs: Seq[Obj]): Unit =
    objs.foreach { o =>
      val rows = if (o.kind == "ok") o.rows else 50
      val off = rng.nextInt(lineitemRows.size)
      val slice = (0 until rows).map(i => lineitemRows((off + i) % lineitemRows.size))
      if (o.name != null) {
        val p = Paths.get(s"$landing/${o.name}")
        Files.createDirectories(p.getParent)
        if (o.kind == "csv") Files.writeString(p, (header +: slice).map(_.mkString(",")).mkString("\n"))
        else XlsxParser.write(p.toString, header, slice)
      }
    }

  /** Stages one notification parquet per object; returns each object's
    * staged file, ready to be published with [[drop]]. */
  def stageNotifications(objs: Seq[Obj]): Map[Int, Path] = {
    import spark.implicits._
    val staged = s"${conf.work}/notifications-staged-${objs.head.id}"
    objs.map(o => (o.id, "perfbench-bucket", o.name,
        if (o.name == null) 0L else Paths.get(s"$landing/${o.name}").toFile.length()))
      .toDF("seq", "bucket", "name", "size_bytes")
      .repartition(col("seq")).write.partitionBy("seq").parquet(staged)
    objs.map { o =>
      val dir = Paths.get(s"$staged/seq=${o.id}")
      val f = Files.list(dir).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      o.id -> f
    }.toMap
  }

  /** Publishes a notification: a copy of its staged file, renamed
    * atomically into the watched folder. The staged file stays, so the
    * same notification can be published again to another folder. */
  def drop(staged: Path, notifDir: String, id: Int): Double = {
    val target = Paths.get(f"$notifDir/notification-$id%05d.parquet")
    val tmp = Paths.get(f"$notifDir/.notification-$id%05d.parquet.tmp")
    Files.createDirectories(target.getParent)
    Files.copy(staged, tmp)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    target.toFile.setLastModified(System.currentTimeMillis())
    now()
  }

  private val objectDir = "obj_(\\d{5})_".r

  /** Polls a warehouse folder and records when each `object=` directory is
    * first seen committed (its `_SUCCESS` marker exists). */
  final class CommitWatcher(warehouse: String) extends Thread("perfbench-commit-watcher") {
    val committed = new ConcurrentHashMap[Int, Double]()
    @volatile var running = true
    setDaemon(true)
    override def run(): Unit = while (running) {
      val d = new java.io.File(warehouse)
      Option(d.list()).getOrElse(Array.empty[String]).foreach { e =>
        objectDir.findFirstMatchIn(e).foreach { m =>
          val id = m.group(1).toInt
          if (!committed.containsKey(id) && new java.io.File(d, s"$e/_SUCCESS").exists())
            committed.putIfAbsent(id, now())
        }
      }
      Thread.sleep(5)
    }
  }

  final case class Progress(query: String, batch: Long, inputRows: Long, addBatchMs: Long, triggerMs: Long)
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Progress(p.id.toString, p.batchId, p.numInputRows, ms("addBatch"), ms("triggerExecution")))
    }
  }

  /** Counts rows per source object in a warehouse and the object
    * directories holding each one. */
  def reconcile(warehouse: String, objs: Seq[Obj]): Seq[Map[String, Any]] = {
    val counts: Map[String, Long] =
      if (Option(new java.io.File(warehouse).list()).forall(!_.exists(_.startsWith("object=")))) Map.empty
      else spark.read.parquet(warehouse).groupBy("_source_object").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dirs = Option(new java.io.File(warehouse).list()).getOrElse(Array.empty[String])
      .flatMap(e => objectDir.findFirstMatchIn(e).map(_.group(1).toInt)).groupBy(identity)
      .map { case (k, v) => k -> v.length }
    objs.map(o => Map("id" -> o.id, "kind" -> o.kind, "name" -> o.name, "rows" -> o.rows,
      "warehouse_rows" -> Option(o.name).flatMap(counts.get).getOrElse(0L), "dirs" -> dirs.getOrElse(o.id, 0)))
  }

  private def startEtl(name: String, notif: String, warehouse: String, envelope: Streams.TriggerEnvelope) = {
    Files.createDirectories(Paths.get(notif))
    Streams.xlsxEtl(spark, notif, landing, warehouse, s"${conf.work}/checkpoints/$name",
      envelope = envelope)
  }

  /** Micro-batch progress of the given stream query ids, once every event
    * posted so far has been delivered. */
  private def progressOf(ids: Set[String]): Seq[Map[String, Any]] = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    progress.asScala.toSeq.filter(p => ids(p.query)).map(p => Map("query" -> p.query, "batch" -> p.batch,
      "input_rows" -> p.inputRows, "add_batch_ms" -> p.addBatchMs, "trigger_ms" -> p.triggerMs))
  }

  /** Drains every notification already in `notif` under the reference
    * envelope (cap 3, AvailableNow); returns the stream query id. */
  private def drain(name: String, notif: String, warehouse: String): String = {
    val q = startEtl(name, notif, warehouse, Streams.TriggerEnvelope())
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.id.toString
  }

  final class XlsxArrivals {
    def run(): Map[String, Any] = {
      spark.streams.addListener(progressListener)
      // set-up: workbooks and staged notifications for the backlog (which
      // the warm-up drains too) and the open loop
      val g0 = now()
      // two decoys in five, so every drain replays all four reject cases;
      // one large object in six accepted
      val backlog = makeObjects(100, conf.backlog, largeEvery = 6, decoysPerFive = 2)
      writeObjects(backlog)
      val open = cloneObjects(backlog, 1000, conf.openCount)
      val staged = stageNotifications(backlog ++ open)
      val workbookS = now() - g0
      /** Publishes the backlog to a new folder and drains it with a new
        * stream, checkpoint and warehouse; returns the stream query id. */
      def drainBacklog(name: String): String = {
        val notif = s"${conf.work}/notif-$name"
        backlog.foreach(o => drop(staged(o.id), notif, o.id))
        drain(name, notif, s"${conf.work}/wh-$name")
      }
      // warm-up (untimed): two drains of the same backlog
      val w0 = now()
      (0 until 2).foreach(w => drainBacklog(s"warm$w"))
      val warmS = now() - w0

      // phase 1: the same seeded backlog drained again and again under the
      // reference envelope (cap 3, AvailableNow), each time by a new stream
      // with its own notification folder, checkpoint and warehouse, until
      // the measured time is up. The traced run alternates untraced and
      // traced drains: that measures the tracing overhead.
      val start = now()
      val deadline = start + conf.seconds
      val minDrains = if (conf.trace) 2 else 1
      val drains = ArrayBuffer.empty[Map[String, Any]]
      while (now() < deadline || drains.size < minDrains) {
        val i = drains.size
        val traced = conf.trace && i % 2 == 1
        if (traced) trace.start() else trace.stop()
        val d0 = now()
        val id = trace.span("stream:drain")(drainBacklog(s"backlog$i"))
        val d1 = now()
        trace.stop()
        drains += Map("drain" -> i, "start" -> d0, "end" -> d1, "traced" -> traced, "query" -> id,
          "notified" -> backlog.size, "accepted" -> backlog.count(_.kind == "ok"))
      }
      val measureEnd = now()
      val backlogRec = drains.indices.flatMap(i =>
        reconcile(s"${conf.work}/wh-backlog$i", backlog).map(_ + ("drain" -> i)))

      // phase 2: a short open loop at a fixed rate, timed from each
      // object's due time to its commit; traced in the traced run
      if (conf.trace) trace.start()
      val openWh = s"${conf.work}/wh-open"
      val watcher = new CommitWatcher(openWh)
      watcher.start()
      val q = trace.span("stream:open") {
        startEtl("open", s"${conf.work}/notif-open", openWh,
          Streams.TriggerEnvelope(maxFilesPerTrigger = 3, processingInterval = Some("0 seconds")))
      }
      // wait for the stream to be polling before the schedule starts
      val ready = now() + 10
      while (now() < ready && !q.status.message.startsWith("Waiting")) Thread.sleep(5)
      val openStart = now()
      val t0 = openStart + 0.1
      val timeline = open.zipWithIndex.map { case (o, i) =>
        val due = t0 + i / conf.openRate
        val wait = due - now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        val dropped = drop(staged(o.id), s"${conf.work}/notif-open", o.id)
        Map[String, Any]("id" -> o.id, "kind" -> o.kind, "due" -> due, "drop" -> dropped)
      }
      val expect = open.filter(_.kind == "ok").map(_.id).toSet
      val grace = now() + 30
      while (now() < grace && !expect.forall(watcher.committed.containsKey)) Thread.sleep(20)
      q.stop()
      watcher.running = false
      watcher.join()
      val openEnd = now()
      val openRec = reconcile(openWh, open).map(_ + ("drain" -> -1))
      val committed = timeline.map { t =>
        t ++ Map("commit" -> Option(watcher.committed.get(t("id").asInstanceOf[Int])).getOrElse(-1.0))
      }
      val prog = progressOf(drains.map(_("query").toString).toSet + q.id.toString)
      spark.streams.removeListener(progressListener)
      Map("workbook_s" -> workbookS, "warm_s" -> warmS, "drains" -> drains.toSeq,
        "open" -> Map("start" -> openStart, "end" -> openEnd, "rate" -> conf.openRate,
          "query" -> q.id.toString, "traced" -> conf.trace, "timeline" -> committed),
        "reconcile" -> (backlogRec ++ openRec), "progress" -> prog,
        "measure_start" -> start, "measure_end" -> measureEnd)
    }
  }

  // ------------------------------------------------------------ layer probes

  /** Direct calls into the layers a workload does not drive by itself, so
    * every layer is measured in every traced run. */
  private def layerProbes(): Map[String, Any] = {
    trace.start()
    // tables: each Tables.* call for all ten tables, three rounds
    val resolvers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings)
    for (r <- 0 until 3) trace.span(s"tables:round$r") {
      resolvers.foreach { case (n, f) =>
        try trace.span(s"tables.$n")(f(spark, tablesDir).schema)
        catch { case NonFatal(e) => fail(s"tables.$n", e) }
      }
    }
    // xlsx and sink: two small and one large workbook, each parsed in this
    // JVM, loaded through the DSv2 source with inferSchema, and written
    // through the warehouse seam
    val objs = makeObjects(5000, 12, largeEvery = 9).filter(_.kind == "ok")
    val pick = objs.sortBy(_.rows).takeRight(1) ++ objs.sortBy(_.rows).take(2)
    writeObjects(pick)
    val xl = pick.map { o =>
      val path = s"$landing/${o.name}"
      try {
        val parsed = trace.span("xlsx.parse", "rows" -> o.rows)(XlsxParser.parse(path).size)
        val frame = trace.span("xlsx.infer") {
          val f = spark.read.format("xlsx").option("inferSchema", true).load(path)
          f.schema
          f
        }
        val dir = s"${conf.work}/probe-sink/object=${o.id}"
        trace.span("sink.write")(graft.api.Graft.writeWarehouse(frame, "parquet", dir))
        val files = new java.io.File(dir).list().count(_.startsWith("part-"))
        Map("id" -> o.id, "rows" -> o.rows, "parsed_rows" -> parsed, "files" -> files)
      } catch { case NonFatal(e) => fail(s"probe ${o.name}", e); Map("id" -> o.id, "rows" -> o.rows) }
    }
    // the layers the workload itself does not drive
    val extra: Map[String, Any] =
      if (conf.workload == "xlsx_arrivals") {
        for (p <- 0 until 3) trace.span(s"pass:probe$p")(Main.probeQueries.foreach(runQuery(_)))
        Map.empty
      } else {
        spark.streams.addListener(progressListener)
        val sobjs = makeObjects(6000, 10, largeEvery = 0)
        writeObjects(sobjs)
        val staged = stageNotifications(sobjs)
        sobjs.foreach(o => drop(staged(o.id), s"${conf.work}/notif-probe", o.id))
        val id = trace.span("stream:drain")(drain("probe", s"${conf.work}/notif-probe", s"${conf.work}/wh-probe"))
        val prog = progressOf(Set(id))
        spark.streams.removeListener(progressListener)
        Map("stream" -> Map("query" -> id, "notified" -> sobjs.size, "accepted" -> sobjs.count(_.kind == "ok"),
          "reconcile" -> reconcile(s"${conf.work}/wh-probe", sobjs), "progress" -> prog))
      }
    Map("workbooks" -> xl) ++ extra
  }
}

/** Minimal JSON rendering for the raw result document. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
