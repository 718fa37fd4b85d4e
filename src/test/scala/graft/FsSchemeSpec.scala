package graft

import org.apache.spark.sql.functions._

/** S2 closure (SURVEY.md §2.1): object-store access is a Hadoop
  * FileSystem SCHEME, i.e. configuration, not engine code. The engine
  * passes path strings through to Spark's Hadoop FS layer unchanged —
  * the same `Tables.*` readers and `Graft.writeWarehouse` that run on
  * `file:` here run on `gs://bucket/...` in production by registering
  * the GCS connector under `fs.gs.impl` (exactly as [[MockGraftFs]]
  * is registered under `fs.mockfs.impl` below). No code path in the
  * engine inspects or rewrites schemes. */
class FsSchemeSpec extends SparkSpec {

  private def withMockFs[A](body: => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockfs.impl", classOf[MockGraftFs].getName)
    try body finally conf.unset("fs.mockfs.impl")
  }

  test("Tables readers accept a non-file URI scheme unchanged") {
    withMockFs {
      val viaMock = Tables.nation(spark, s"mockfs://$sf").collect()
      val viaFile = Tables.nation(spark, sf).collect()
      assert(viaMock.length === viaFile.length)
      assert(viaMock.map(_.toString).sorted.toSeq === viaFile.map(_.toString).sorted.toSeq)
    }
  }

  test("corpus memo invalidates on regeneration through a non-file URI scheme") {
    withMockFs {
      import spark.implicits._
      // r5 verdict: corpusSig walked java.io.File, so on any non-local
      // scheme the signature degenerated to "" and the count/centroid
      // memo served STALE entries across corpus regenerations. The
      // Hadoop-FS signature must see the rewrite and recompute.
      val local = java.nio.file.Files.createTempDirectory("graft_mockfs_corpus").toString
      val dir = s"mockfs://$local"
      def writeCorpus(n: Int): Unit =
        (1 to n).map(i => (i.toLong, Seq(i.toFloat, 0.0f), 0))
          .toDF("vec_id", "embedding", "label")
          .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      writeCorpus(5)
      assert(graft.operators.Similarity.corpusCount(spark, dir) === 5L)
      writeCorpus(9)
      assert(graft.operators.Similarity.corpusCount(spark, dir) === 9L,
        "memo served a stale count after the corpus was regenerated")
    }
  }

  test("writeWarehouse writes through a non-file URI scheme; read-back matches") {
    withMockFs {
      import spark.implicits._
      val local = java.nio.file.Files.createTempDirectory("graft_mockfs_wh").toString
      val uri = s"mockfs://$local/out"
      val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "grp")
      graft.api.Graft.writeWarehouse(df, "parquet", uri, partitionBy = Seq("grp"))
      // the bytes physically landed where the scheme mapped them
      assert(new java.io.File(s"$local/out").exists())
      val back = spark.read.parquet(uri)
      assert(back.count() === 3)
      assert(back.filter(col("grp") === "a").count() === 2)
    }
  }
}

/** A Hadoop FileSystem registered under a custom scheme, delegating
  * to the local filesystem — the offline stand-in for a gs:// (or
  * s3a://, abfs://) connector. Registration under `fs.<scheme>.impl`
  * is the ONLY step production needs too. */
class MockGraftFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: java.net.URI = java.net.URI.create("mockfs:///")
}
