package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables` resolves each schema from one driver-side footer read: no
  * Spark job per call, the schema Spark's inference would give, and a
  * loud, named failure when a file drifts from [[Tables.contract]]. */
class TablesSpec extends SparkSpec {

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
    "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs. The listener bus is
    * asynchronous but ordered, so once a marker job submitted after
    * `body` has been seen, every earlier job start has been seen too. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        groups.add(Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup("tables-spec-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("tables-spec-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("tables-spec-marker"), "marker job never reached the listener")
      (out, groups.asScala.takeWhile(_ != "tables-spec-marker").size)
    } finally sc.removeSparkListener(listener)
  }

  /** What the loaders returned before footer resolution: Spark's inferred
    * schema, with `events` normalized as it was then. */
  private def inferredSchema(dir: String, name: String) = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") raw.schema
    else (raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns").withColumn("ts", expr("timestamp_micros(ts_ns DIV 1000)"))
      case TimestampType =>
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case TimestampNTZType =>
        raw.withColumn("ts", expr("cast(ts as timestamp)")).withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }).schema
  }

  private def assertJobFreeAndInferred(dir: String): Unit =
    for ((name, load) <- loaders) {
      val (df, jobs) = jobsDuring(load(spark, dir))
      assert(jobs === 0, s"Tables.$name launched $jobs Spark job(s) to resolve its schema")
      assert(df.schema === inferredSchema(dir, name),
        s"Tables.$name resolved ${df.schema.simpleString}, inference gives ${inferredSchema(dir, name).simpleString}")
    }

  test("all ten loaders resolve with no Spark job, to the inferred schema") {
    assertJobFreeAndInferred(sf)
  }

  test("a Spark-written multi-part directory resolves with no Spark job, to the inferred schema") {
    val dir = tmpDir("graft_tables_multipart")
    for ((name, _) <- loaders)
      spark.read.parquet(s"$sf/$name.parquet").repartition(3).write.parquet(s"$dir/$name.parquet")
    assert(new java.io.File(s"$dir/lineitem.parquet").list().count(_.startsWith("part-")) === 3)
    assertJobFreeAndInferred(dir)
  }

  test("a regenerated file is seen on the next call (no schema cache)") {
    val dir = tmpDir("graft_tables_regen")
    val src = spark.read.parquet(s"$sf/region.parquet")
    src.write.parquet(s"$dir/region.parquet")
    assert(!Tables.region(spark, dir).columns.contains("r_comment"))
    src.withColumn("r_comment", lit("x")).write.mode("overwrite").parquet(s"$dir/region.parquet")
    assert(Tables.region(spark, dir).columns.contains("r_comment"))
  }

  test("a lineitem with l_quantity drifted to string fails at the Tables call, column named") {
    val dir = tmpDir("graft_tables_drift_type")
    spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("l_quantity", col("l_quantity").cast("string"))
      .write.parquet(s"$dir/lineitem.parquet")
    val e = intercept[IllegalStateException](Tables.lineitem(spark, dir))
    assert(e.getMessage.contains("lineitem.l_quantity DRIFTED to string (accepted: double)"), e.getMessage)
  }

  test("a lineitem with l_tax dropped fails at the Tables call, column named") {
    val dir = tmpDir("graft_tables_drift_missing")
    spark.read.parquet(s"$sf/lineitem.parquet").drop("l_tax").write.parquet(s"$dir/lineitem.parquet")
    val e = intercept[IllegalStateException](Tables.lineitem(spark, dir))
    assert(e.getMessage.contains("lineitem.l_tax MISSING"), e.getMessage)
    assert(e.getMessage.contains("accepted: double"), e.getMessage)
  }

  test("an extra column is allowed") {
    val dir = tmpDir("graft_tables_extra")
    spark.read.parquet(s"$sf/nation.parquet").withColumn("n_comment", lit("x"))
      .write.parquet(s"$dir/nation.parquet")
    assert(Tables.nation(spark, dir).columns.contains("n_comment"))
  }

  test("Tables.events on micros files leaves the session's nanosAsLong conf untouched") {
    val before = spark.conf.getOption(NanosAsLong)
    spark.conf.unset(NanosAsLong)
    try {
      Tables.events(spark, sf)
      assert(!spark.conf.getAll.contains(NanosAsLong), "Tables.events set the session conf")
    } finally before.foreach(spark.conf.set(NanosAsLong, _))
  }

  /** A three-row `events.parquet` whose `ts` is TIMESTAMP(NANOS), as the
    * pre-Aug-2026 generator wrote it; returns its directory. */
  private def writeNanosEvents(nanos: Seq[Long]): String = {
    val dir = tmpDir("graft_tables_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message schema {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      nanos.zipWithIndex.foreach { case (ns, i) =>
        writer.write(groups.newGroup()
          .append("event_id", i.toLong).append("ts", ns).append("user_id", 7L)
          .append("event_type", "click").append("value", 1.5).append("props", "{}"))
      }
    } finally writer.close()
    dir
  }

  /** Runs `body` with the session's nanosAsLong conf set to `value`
    * (None: unset), restoring the previous setting after. */
  private def withNanosAsLong[A](value: Option[String])(body: => A): A = {
    val before = spark.conf.getOption(NanosAsLong)
    value.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
    try body
    finally {
      spark.conf.unset(NanosAsLong)
      before.foreach(spark.conf.set(NanosAsLong, _))
    }
  }

  test("Tables.events on a TIMESTAMP(NANOS) file without the flag fails naming file and flag; the caller's conf is unchanged") {
    val dir = writeNanosEvents(Seq(1L))
    withNanosAsLong(None) {
      val confBefore = spark.conf.getAll
      val e = intercept[IllegalStateException](Tables.events(spark, dir))
      assert(e.getMessage.contains(s"$dir/events.parquet"), e.getMessage)
      assert(e.getMessage.contains("TIMESTAMP(NANOS) column(s) ts"), e.getMessage)
      assert(e.getMessage.contains(s"set $NanosAsLong=true"), e.getMessage)
      assert(spark.conf.getAll === confBefore)
    }
  }

  // the caller sets the flag itself: Tables never writes the session conf
  test("Tables.events normalizes a TIMESTAMP(NANOS) file exactly: ts micros + ts_ns nanos") {
    val nanos = Seq(1700000000123456789L, 1700000001000000001L, 1L)
    val dir = writeNanosEvents(nanos)
    withNanosAsLong(Some("true")) {
      val confBefore = spark.conf.getAll
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.schema("ts_ns").dataType === LongType)
      val got = ev.selectExpr("event_id", "ts_ns", "unix_micros(ts)").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      assert(got === nanos.zipWithIndex.map { case (ns, i) => (i.toLong, ns, ns / 1000) })
      assert(spark.conf.getAll === confBefore)
    }
  }
}
