package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.api.Graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all specs (one JVM-wide session —
  * Spark session startup dominates test time otherwise). It carries the
  * engine's physical rule ([[graft.plans.TinySort]]) so specs plan and
  * count jobs as the harness session does; the native functions and the
  * HOF rewrite are registered per spec, which toggles them. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(_.injectQueryStagePrepRule(graft.plans.TinySort))
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** The [[Graft.ScopeTag]] of every Spark job started while `body`
    * runs (null for an untagged job). The listener bus is asynchronous
    * but ordered: once a marker job submitted after `body` is seen,
    * every earlier job start has been seen too. */
  def tagsDuring[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    val tags = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        tags.add(Option(js.properties).flatMap(p => Option(p.getProperty(Graft.ScopeTag))))
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(Graft.ScopeTag, "tags-during-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Graft.ScopeTag, null)
      val marker = Some("tags-during-marker")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!tags.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(tags.contains(marker), "marker job never reached the listener")
      (out, tags.asScala.takeWhile(_ != marker).map(_.orNull).toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Drop a saved table AND its on-disk warehouse directory. The
    * catalog is in-memory per JVM, so a previous run's table dirs
    * survive on disk without catalog entries; the path must match
    * build.sbt's -Dspark.sql.warehouse.dir. Shared by every spec
    * that saves bucketed tables. */
  def dropTableAndDir(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val d = new java.io.File(s"/tmp/graft-warehouse/$name")
    if (d.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(d)
    }
  }
}
