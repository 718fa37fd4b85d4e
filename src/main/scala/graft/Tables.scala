package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * All engine operators read through here so that read settings live in
  * one place. At 100 TB these readers would point at a partitioned
  * cloud-storage layout (the reference's GCS bucket model, its
  * `main.py:16` `gs://{bucket}/{name}`); locally they read
  * the driver's parquet files. Column pruning + predicate pushdown are
  * preserved because we hand back the raw scan and let Catalyst push
  * the caller's filters/projections into it.
  *
  * Schema resolution is driver-side and launches no Spark job: each call
  * reads one parquet footer through the Hadoop FS API (so `gs://` and any
  * other registered scheme work unchanged), skipping the row-group
  * metadata, and converts it with Spark's own footer-to-schema converter
  * under the session's SQL conf. For a directory (the layout Spark
  * writes) the first visible data file is read, which is also the one
  * file Spark's non-merging inference reads. The scan is then built with
  * that schema declared, so the result is the schema `spark.read.parquet`
  * would infer, without its one-task inference job. Nothing is cached:
  * a regenerated file is seen on the next call. A directory with no
  * top-level data file (e.g. a partitioned layout) is rejected.
  *
  * Every resolved star table is checked against [[contract]] at the
  * call. A missing column or a type outside the accepted set throws,
  * naming `table.column`, the type found and the accepted types, so a
  * drifted file fails loudly instead of reading as nulls later. Extra
  * columns are allowed.
  */
object Tables {

  /** Integer widths are generator-version-dependent (pandas int32 vs
    * int64), and key columns only ever feed equality/grouping, so both
    * widths are accepted where the generator has shipped either. */
  private val intLike: Set[DataType] = Set(IntegerType, LongType)
  private def one(t: DataType): Set[DataType] = Set(t)
  private val dateLike: Set[DataType] = Set(TimestampType, TimestampNTZType, DateType)

  /** Accepted raw file schema per table: (column -> accepted types), in
    * column order. */
  val contract: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq("r_regionkey" -> intLike, "r_name" -> one(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> intLike,
      "n_name"      -> one(StringType),
      "n_regionkey" -> intLike),
    "customer" -> Seq(
      "c_custkey"    -> intLike,
      "c_name"       -> one(StringType),
      "c_nationkey"  -> intLike,
      "c_acctbal"    -> one(DoubleType),
      "c_mktsegment" -> one(StringType)),
    "supplier" -> Seq(
      "s_suppkey"   -> intLike,
      "s_name"      -> one(StringType),
      "s_nationkey" -> intLike,
      "s_acctbal"   -> one(DoubleType)),
    "part" -> Seq(
      "p_partkey"     -> intLike,
      "p_name"        -> one(StringType),
      "p_brand"       -> one(StringType),
      "p_type"        -> one(StringType),
      "p_size"        -> intLike,
      "p_retailprice" -> one(DoubleType)),
    "orders" -> Seq(
      "o_orderkey"      -> intLike,
      "o_custkey"       -> intLike,
      "o_orderstatus"   -> one(StringType),
      "o_totalprice"    -> one(DoubleType),
      "o_orderdate"     -> dateLike,
      "o_orderpriority" -> one(StringType)),
    "lineitem" -> Seq(
      "l_orderkey"      -> intLike,
      "l_partkey"       -> intLike,
      "l_suppkey"       -> intLike,
      "l_linenumber"    -> intLike,
      "l_quantity"      -> one(DoubleType),
      "l_extendedprice" -> one(DoubleType),
      "l_discount"      -> one(DoubleType),
      "l_tax"           -> one(DoubleType),
      "l_returnflag"    -> one(StringType),
      "l_linestatus"    -> one(StringType),
      "l_shipdate"      -> dateLike),
    "events" -> Seq(
      "event_id"   -> intLike,
      // nanos-as-long (pre-Aug-2026 generator) or a real timestamp
      // column (current generator); [[events]] normalizes both
      "ts"         -> Set(LongType, TimestampType, TimestampNTZType),
      "user_id"    -> intLike,
      "event_type" -> one(StringType),
      "value"      -> one(DoubleType),
      "props"      -> one(StringType)),
    "documents" -> Seq(
      "doc_id"  -> intLike,
      "text"    -> one(StringType),
      "lang"    -> one(StringType),
      "source"  -> one(StringType),
      "n_chars" -> intLike),
    "embeddings" -> Seq(
      "vec_id"    -> intLike,
      "embedding" -> Set(ArrayType(FloatType), ArrayType(FloatType, containsNull = false),
                         ArrayType(DoubleType), ArrayType(DoubleType, containsNull = false)),
      "label"     -> intLike)
  )

  /** One line per deviation of `actual` from `table`'s contract. Missing
    * columns and types outside the accepted set are fatal; extra columns
    * are marked `informational`. */
  def describeDrift(table: String, actual: StructType): Seq[String] = {
    val expected = contract(table)
    def accepted(ok: Set[DataType]) = ok.map(_.simpleString).toSeq.sorted.mkString(" | ")
    val actualByName = actual.fields.map(f => f.name -> f.dataType).toMap
    val missing = expected.collect {
      case (name, ok) if !actualByName.contains(name) =>
        s"$table.$name MISSING (testdata drifted — column dropped or renamed; accepted: ${accepted(ok)})"
    }
    val wrongType = expected.collect {
      case (name, ok) if actualByName.get(name).exists(t => !ok.contains(t)) =>
        s"$table.$name DRIFTED to ${actualByName(name).simpleString} (accepted: ${accepted(ok)})"
    }
    val extra = actual.fields.collect {
      case f if !expected.exists(_._1 == f.name) =>
        s"$table.${f.name} NEW column ${f.dataType.simpleString} (informational)"
    }
    missing ++ wrongType ++ extra
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = resolve(spark, path)
    if (contract.contains(name)) {
      val fatal = describeDrift(name, schema).filterNot(_.contains("informational"))
      if (fatal.nonEmpty)
        throw new IllegalStateException(
          s"schema drift in $path:\n  " + fatal.mkString("\n  "))
    }
    spark.read.schema(schema).parquet(path)
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** The schema Spark would infer for `path`, from one footer read on the
    * driver. */
  private def resolve(spark: SparkSession, path: String): StructType = {
    val conf = GraftShim.newHadoopConf(spark)
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file =
      if (!st.isDirectory) st
      else fs.listStatus(p)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .sortBy(_.getPath.toString)
        .headOption
        .getOrElse(throw new IllegalStateException(s"no top-level parquet data file in $path"))
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    // Spark rejects TIMESTAMP(NANOS) outright (PARQUET_TYPE_ILLEGAL)
    // unless the session reads it as a plain long. The scan consults the
    // session conf when it executes, on the caller's session, so no
    // private scope can carry the flag: the caller must set it.
    val nanos = nanosTimestamps(meta.getFileMetaData.getSchema)
    if (nanos.nonEmpty && !spark.conf.getOption(NanosAsLong).contains("true"))
      throw new IllegalStateException(
        s"${file.getPath} stores TIMESTAMP(NANOS) column(s) ${nanos.mkString(", ")}, which Spark " +
          s"reads only as long: set $NanosAsLong=true on the session before reading it")
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, meta), new ParquetToSparkSchemaConverter(GraftShim.sqlConf(spark)))
  }

  private def nanosTimestamps(schema: MessageType): Seq[String] =
    schema.getFields.asScala.toSeq.collect {
      case f if f.isPrimitive && f.asPrimitiveType.getPrimitiveTypeName == INT64 &&
          (f.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => false
          }) => f.getName
    }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** `events.parquet` has shipped with two physical layouts for `ts`:
    * TIMESTAMP(NANOS) (read as a plain long, which needs the caller's
    * session to set `spark.sql.legacy.parquet.nanosAsLong=true`; without
    * it [[resolve]] throws naming the file and the flag) and,
    * after an Aug-2026 regeneration, TIMESTAMP(MICROS). We branch on the
    * resolved schema and normalize to the same two-column contract either
    * way: `ts` (TimestampType, micros) for windowing/watermarks and
    * `ts_ns` (long, epoch nanos) for exact arithmetic. Session TZ is UTC
    * everywhere so wall-clock values match the oracle's TIMESTAMP (ntz),
    * and DuckDB's `epoch_ns(ts)` yields the identical trailing-zero nanos
    * on micros data.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    // the contract check in `table` admits exactly these three types
    raw.schema("ts").dataType match {
      case LongType =>
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns DIV 1000)"))
      case TimestampType =>
        raw.withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
      case TimestampNTZType =>
        // NTZ carries no zone; session TZ is UTC so the cast is exact.
        raw
          .withColumn("ts", expr("cast(ts as timestamp)"))
          .withColumn("ts_ns", expr("unix_micros(ts) * 1000L"))
    }
  }
}
