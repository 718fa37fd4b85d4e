package graft.sources.xlsx

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamException}
import scala.util.Using

/** Minimal XLSX DataSource V2 (SURVEY.md §2.1 S3: the reference's whole
  * purpose is XLSX-file ETL — /root/reference/main.py:12 filters for
  * `.xlsx`, /root/reference/.github/workflows/terraform.yml:26 names
  * the function `xlsx-folder-trigger` — with the actual processing
  * stubbed at main.py:17).
  *
  * XLSX is a zip of XML parts; this reader uses only the JDK
  * (java.util.zip + javax.xml) — no POI. The small metadata parts
  * (workbook, rels, styles, `xl/sharedStrings.xml`) are read whole;
  * the worksheet is streamed one `<row>` at a time ([[XlsxParser.rows]]),
  * so no caller holds a whole sheet in memory. Row 1 is the header;
  * every column is StringType (schema-at-read-time, matching the
  * survey's inference note at SURVEY.md §1.2) unless `inferSchema` is
  * set, in which case inference reads the header plus its share of
  * `inferSampleRows` rows from each file and stops there. Without
  * `inferSchema`, planning reads only the header.
  *
  * Scale shape: one input partition per file (spreadsheets are small
  * and row-group-less — file granularity IS the parallelism, the same
  * model as the reference's one-event-per-file trigger). No filter
  * pushdown: Catalyst filters above the scan; a spreadsheet has no
  * column statistics to push into anyway.
  */
class XlsxDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "xlsx"

  override def supportsExternalMetadata(): Boolean = true

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val fromPaths = Option(options.get("paths")).map { json =>
      // simple JSON array of strings: ["a","b"]
      json.stripPrefix("[").stripSuffix("]").split(",")
        .map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    }.getOrElse(Seq.empty)
    val fromPath = Option(options.get("path")).toSeq
    (fromPaths ++ fromPath).distinct
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ps = XlsxPaths.expand(paths(options))
    // no readable workbook yet: a write-only target (fresh directory).
    // The write path takes its schema from LogicalWriteInfo and the
    // table declares ACCEPT_ANY_SCHEMA, so empty is correct here.
    if (ps.isEmpty) return new StructType()
    val sheetOpt = Option(options.get("sheet"))
    val infer = options.getBoolean("inferSchema", false)
    // per-file quota, not a global first-come cap: EVERY part file
    // contributes rows, so a wider type that only appears in a later
    // part (a decimal among integers) still widens the column even
    // when the first part alone would exhaust a global cap
    val perFile =
      if (infer) math.max(16, options.getInt("inferSampleRows", 1000) / ps.size) else 0
    // the header plus at most perFile rows; the rest of the sheet is
    // never parsed (a malformed row past the sample fails at scan time)
    def head(p: String): Vector[Seq[String]] =
      Using.resource(XlsxParser.rows(p, sheetOpt))(_.take(1 + perFile).toVector)
    val first = head(ps.head)
    val header = first.headOption.getOrElse(Seq.empty)
    val names = header.zipWithIndex.map { case (name, i) =>
      if (name == null || name.isEmpty) s"_c$i" else name
    }
    // typed schema-at-read (SURVEY §1.2): sample rows ACROSS the part
    // workbooks and unify per-column cell types, exactly like Spark's
    // CSV inferSchema — opt-in so the default stays the all-string
    // raw-fidelity read. Sampling every file (not just the first)
    // keeps a type that only appears in a later part from inferring
    // too narrow and silently nulling under the permissive converter.
    if (infer) {
      val sample = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
      sample ++= first.drop(1)
      ps.iterator.drop(1).foreach { p =>
        val part = head(p)
        // inference assumes every part shares the first file's column
        // order (cells land by ordinal) — a reordered/extra-column
        // part would feed the wrong cells into each column's type
        // lattice; fail here with both headers (ADVICE r4), matching
        // the scan-time check in XlsxBatch
        // a zero-row part has no header to validate (and nothing to
        // misalign) — skip it rather than failing the whole dataset
        val h = part.headOption.getOrElse(Seq.empty)
        if (part.nonEmpty && h != header)
          throw new IllegalArgumentException(
            s"xlsx: header of part file $p " +
              h.mkString("[", ", ", "]") +
              " does not match the first part's header " +
              header.mkString("[", ", ", "]") +
              " — parts of one dataset must share one column layout")
        sample ++= part.drop(1)
      }
      StructType(names.zipWithIndex.map { case (name, i) =>
        val cells = sample.toSeq.map(r => if (i < r.length) r(i) else null)
        StructField(name, XlsxTypeInference.unify(cells))
      })
    } else
      StructType(names.map(StructField(_, StringType)))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val mode = Option(opts.get("mode")).getOrElse("PERMISSIVE")
      .toUpperCase(java.util.Locale.ROOT) // locale-safe: tr_TR dotted-I
    require(mode == "PERMISSIVE" || mode == "FAILFAST",
      s"xlsx mode must be PERMISSIVE|FAILFAST, got $mode")
    new XlsxTable(schema, paths(opts), Option(opts.get("sheet")),
      failFast = mode == "FAILFAST")
  }
}

/** File/directory resolution shared by the read and write paths: a
  * directory expands to its `*.xlsx` children (the layout the V2
  * writer produces — one part workbook per task, like any Spark file
  * sink), a file stands for itself, a missing path contributes
  * nothing (write-only target). */
object XlsxPaths {
  def expand(paths: Seq[String]): Seq[String] = paths.flatMap { p =>
    val f = new java.io.File(p)
    if (f.isDirectory)
      f.listFiles().filter(_.getName.endsWith(".xlsx")).map(_.getPath).sorted.toSeq
    else if (f.exists()) Seq(p)
    else Seq.empty
  }
}

/** Sample-based cell-type inference for `inferSchema=true` — the
  * long → double → boolean → date → timestamp_ntz → string lattice a
  * spark-excel-class reader applies. Nulls/empties are compatible
  * with every type; an all-null column falls back to string. Date
  * cells arrive from the parser already normalized to ISO strings
  * (`yyyy-MM-dd`, or `yyyy-MM-dd HH:mm:ss` for fractional serials),
  * so inference matches those two shapes only — a mixed date/datetime
  * column unifies to timestamp_ntz (NTZ because a workbook has no
  * timezone; these are wall-clock values). */
object XlsxTypeInference {
  private val longRe = "[+-]?\\d{1,19}".r
  private val doubleRe = "[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?".r
  private val dateRe = "\\d{4}-\\d{2}-\\d{2}".r
  private val tsRe = "\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}(\\.\\d{1,6})?".r

  private def isLong(s: String) =
    longRe.matches(s) && scala.util.Try(s.toLong).isSuccess
  private def isDouble(s: String) = doubleRe.matches(s)
  private def isBool(s: String) =
    s.equalsIgnoreCase("true") || s.equalsIgnoreCase("false")
  private def isDate(s: String) =
    dateRe.matches(s) && scala.util.Try(java.time.LocalDate.parse(s)).isSuccess

  /** Shared by inference AND the converter — inference must never
    * accept a value its own converter can't parse (a shape-only check
    * would infer TimestampNTZ for "2023-03-15 25:61:61" and then null
    * every cell at scan time). */
  private[xlsx] val tsFormatter: java.time.format.DateTimeFormatter =
    new java.time.format.DateTimeFormatterBuilder()
      .appendPattern("yyyy-MM-dd HH:mm:ss")
      .optionalStart()
      .appendFraction(java.time.temporal.ChronoField.MICRO_OF_SECOND, 1, 6, true)
      .optionalEnd()
      .toFormatter()

  private def isTimestamp(s: String) =
    tsRe.matches(s) &&
      scala.util.Try(java.time.LocalDateTime.parse(s, tsFormatter)).isSuccess

  def unify(cells: Seq[String]): DataType = {
    val vs = cells.filter(c => c != null && c.nonEmpty)
    if (vs.isEmpty) StringType
    else if (vs.forall(isLong)) LongType
    else if (vs.forall(isDouble)) DoubleType
    else if (vs.forall(isBool)) BooleanType
    else if (vs.forall(isDate)) DateType
    else if (vs.forall(s => isTimestamp(s) || isDate(s))) TimestampNTZType
    else StringType
  }

  /** String cell → Catalyst internal value for `dt`; unparseable or
    * empty cells read as null (permissive, like CSV's default mode —
    * a value outside the inferred sample must not abort the scan). */
  def converter(dt: DataType): String => Any = dt match {
    case StringType => s => UTF8String.fromString(s)
    case LongType => s => scala.util.Try(s.trim.toLong).getOrElse(null)
    case IntegerType => s => scala.util.Try(s.trim.toInt).getOrElse(null)
    case ShortType => s => scala.util.Try(s.trim.toShort).getOrElse(null)
    case ByteType => s => scala.util.Try(s.trim.toByte).getOrElse(null)
    case DoubleType => s => scala.util.Try(s.trim.toDouble).getOrElse(null)
    case FloatType => s => scala.util.Try(s.trim.toFloat).getOrElse(null)
    case BooleanType => s =>
      if (s.equalsIgnoreCase("true")) true
      else if (s.equalsIgnoreCase("false")) false
      else null
    case d: DecimalType => s =>
      scala.util.Try(org.apache.spark.sql.types.Decimal(
        new java.math.BigDecimal(s.trim), d.precision, d.scale)).getOrElse(null)
    case DateType => s =>
      scala.util.Try(java.time.LocalDate.parse(s.trim).toEpochDay.toInt).getOrElse(null)
    case TimestampNTZType =>
      // optional 1–6 fractional-second digits (the writer emits 6)
      val fmt = tsFormatter
      s => scala.util.Try {
        val t = s.trim
        val ldt =
          if (t.length == 10) java.time.LocalDate.parse(t).atStartOfDay
          else java.time.LocalDateTime.parse(t, fmt)
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      }.getOrElse(null)
    case other => throw new UnsupportedOperationException(
      s"xlsx read: unsupported type $other — read as string and cast instead")
  }
}

class XlsxTable(tableSchema: StructType, paths: Seq[String],
                sheet: Option[String] = None,
                failFast: Boolean = false)
  extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"xlsx(${paths.mkString(",")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val files = XlsxPaths.expand(paths)
    // fail fast on reads of a typo'd or empty location — the empty
    // expansion is legitimate ONLY as a write target, and writes
    // never build a scan
    require(files.nonEmpty, s"no .xlsx files found under: ${paths.mkString(",")}")
    new XlsxScanBuilder(tableSchema, files, sheet, failFast)
  }
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(paths.size == 1, s"xlsx write requires exactly one target path, got: $paths")
    new XlsxWriteBuilder(paths.head, info)
  }
}

/** DSv2 batch write: `df.write.format("xlsx").save(dir)`. Each task
  * buffers its partition and emits one part workbook (spreadsheets are
  * a small-file format — part-file parallelism is the scale dimension,
  * exactly like the reference's one-file-per-event model). Task
  * attempts write temp files; the driver commit renames one winner per
  * partition and deletes losers, so retries never double-publish. */
class XlsxWriteBuilder(path: String, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new XlsxBatchWrite(path, info.schema(), doTruncate)
  }
}

case class XlsxCommitMessage(partitionId: Int, tmpPath: String) extends WriterCommitMessage

class XlsxBatchWrite(dir: String, schema: StructType, truncate: Boolean) extends BatchWrite {
  // job-unique token in every published filename: two appends to the
  // same directory can both have a partition 0 — without this the
  // second rename would silently REPLACE the first job's part file
  private val writeId = java.util.UUID.randomUUID().toString.take(8)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    new java.io.File(dir).mkdirs()
    XlsxWriterFactory(dir, schema)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val byPartition = messages.collect { case m: XlsxCommitMessage => m }.groupBy(_.partitionId)
    // truncate only at COMMIT, after every task has succeeded: a
    // failed overwrite job must leave the previous data untouched
    // (the new files are still .tmp at this point, so deleting all
    // published .xlsx removes exactly the prior jobs' output)
    if (truncate)
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".xlsx")).foreach(_.delete())
    byPartition.foreach { case (pid, ms) =>
      val winner = ms.head
      val target = new java.io.File(dir, f"part-$pid%05d-$writeId.xlsx")
      if (!new java.io.File(winner.tmpPath).renameTo(target))
        throw new java.io.IOException(s"xlsx commit: rename failed for ${winner.tmpPath}")
      ms.tail.foreach(m => new java.io.File(m.tmpPath).delete())
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: XlsxCommitMessage => m }
      .foreach(m => new java.io.File(m.tmpPath).delete())
}

case class XlsxWriterFactory(dir: String, schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new XlsxDataWriter(dir, schema, partitionId, taskId)
}

object XlsxDataWriter {
  // hoisted off the per-cell hot path — ofPattern is an expensive
  // parse + build, not something to run once per timestamp cell
  val tsWholeFmt: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  val tsMicroFmt: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
}

class XlsxDataWriter(dir: String, schema: StructType, partitionId: Int, taskId: Long)
  extends DataWriter[InternalRow] {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
  override def write(row: InternalRow): Unit =
    buf += schema.fields.indices.map { i =>
      if (row.isNullAt(i)) null
      else schema.fields(i).dataType match {
        case StringType => row.getUTF8String(i).toString
        case LongType => row.getLong(i).toString
        case IntegerType => row.getInt(i).toString
        case ShortType => row.getShort(i).toString
        case ByteType => row.getByte(i).toString
        case DoubleType => row.getDouble(i).toString
        case FloatType => row.getFloat(i).toString
        case BooleanType => row.getBoolean(i).toString
        case dt: DecimalType => row.getDecimal(i, dt.precision, dt.scale).toString
        // temporal types render in the same ISO forms the reader's
        // date-style resolution and type inference produce, so a
        // typed read → write → read(inferSchema) round-trips
        case DateType =>
          java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString
        case TimestampNTZType =>
          val micros = row.getLong(i)
          val ldt = java.time.LocalDateTime.ofEpochSecond(
            Math.floorDiv(micros, 1000000L),
            (Math.floorMod(micros, 1000000L) * 1000L).toInt,
            java.time.ZoneOffset.UTC)
          // sub-second precision must survive the round-trip — whole
          // seconds render without the fraction (the reader's
          // inference shape), others carry exactly 6 fractional digits
          ldt.format(
            if (Math.floorMod(micros, 1000000L) == 0L) XlsxDataWriter.tsWholeFmt
            else XlsxDataWriter.tsMicroFmt)
        case other => throw new UnsupportedOperationException(
          s"xlsx write: unsupported type $other — cast the column to string first")
      }
    }
  override def commit(): WriterCommitMessage = {
    val tmp = new java.io.File(dir, s".part-$partitionId-$taskId.xlsx.tmp")
    XlsxParser.write(tmp.getPath, schema.fieldNames.toSeq, buf)
    XlsxCommitMessage(partitionId, tmp.getPath)
  }
  override def abort(): Unit = ()
  override def close(): Unit = ()
}

/** Column pruning: Catalyst pushes the required columns down
  * (SupportsPushDownRequiredColumns), and the reader materializes only
  * those cells — a projection of 2 of 40 spreadsheet columns reads 2. */
class XlsxScanBuilder(fullSchema: StructType, paths: Seq[String],
                      sheet: Option[String] = None,
                      failFast: Boolean = false)
  extends ScanBuilder with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve the file's column order; keep only requested fields
    val names = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => names.contains(f.name)))
  }

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def toBatch: Batch = new XlsxBatch(fullSchema, required, paths, sheet, failFast)
  }
}

case class XlsxInputPartition(path: String) extends InputPartition

class XlsxBatch(fullSchema: StructType, required: StructType, paths: Seq[String],
                sheet: Option[String] = None,
                failFast: Boolean = false) extends Batch {
  override def planInputPartitions(): Array[InputPartition] =
    paths.map(XlsxInputPartition.apply).toArray
  override def createReaderFactory(): PartitionReaderFactory = {
    // multi-file scans carry the FIRST file's header as the column
    // contract every part must repeat (ADVICE r4): cells map to
    // output columns by ORDINAL, so a part workbook with reordered or
    // extra columns would silently misalign values into the wrong
    // (mistyped) columns — each partition reader re-checks its own
    // file's header against this reference and fails with both
    // headers in the message. Single-file scans skip it (their header
    // IS the reference). Planning reads only the first row of the
    // first file.
    // (if the FIRST part is zero-row, expectedHeader stays empty and
    // validation is disabled for the scan — with no reference layout
    // there is nothing to validate against without parsing further
    // files driver-side)
    val expectedHeader: Seq[String] =
      if (paths.size <= 1) Seq.empty
      else Using.resource(XlsxParser.rows(paths.head, sheet))(_.nextOption().getOrElse(Seq.empty))
    new XlsxReaderFactory(fullSchema, required, sheet, failFast, expectedHeader)
  }
}

class XlsxReaderFactory(fullSchema: StructType, required: StructType,
                        sheet: Option[String] = None,
                        failFast: Boolean = false,
                        expectedHeader: Seq[String] = Seq.empty)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[XlsxInputPartition].path
    // cell ordinal in the file for each required output column, plus
    // its typed converter (identity-ish UTF8String for the default
    // all-string schema; parsed values for inferred/user schemas)
    val ordinals = required.fieldNames.map(n => fullSchema.fieldIndex(n))
    val convert = required.fields.map(f => XlsxTypeInference.converter(f.dataType))
    val rows = XlsxParser.rows(path, sheet, failOnError = failFast)
    try {
      // zero-row parts carry no header: nothing to validate, nothing
      // to misalign — read as empty instead of aborting the scan
      val h = rows.nextOption()
      if (expectedHeader.nonEmpty && h.exists(_ != expectedHeader))
        throw new IllegalArgumentException(
          s"xlsx: header of part file $path " +
            h.get.mkString("[", ", ", "]") +
            " does not match the first part's header " +
            expectedHeader.mkString("[", ", ", "]") +
            " — parts of one dataset must share one column layout")
    } catch { case e: Throwable => rows.close(); throw e }
    new PartitionReader[InternalRow] {
      private var current: Seq[String] = _
      override def next(): Boolean = {
        if (rows.hasNext) { current = rows.next(); true } else false
      }
      override def get(): InternalRow = {
        val vals = new Array[Any](ordinals.length)
        var o = 0
        while (o < ordinals.length) {
          val i = ordinals(o)
          if (i < current.length && current(i) != null) {
            val v = convert(o)(current(i))
            // FAILFAST: a non-empty cell that converts to null is a
            // malformed value, not a missing one — surface it with
            // file/column context instead of silently nulling
            // trim before the emptiness test — the converters trim, so
            // a whitespace-only cell is semantically empty, not malformed
            if (v == null && failFast && current(i).trim.nonEmpty)
              throw new IllegalArgumentException(
                s"xlsx FAILFAST: cannot cast '${current(i)}' to " +
                  s"${required.fields(o).dataType.simpleString} " +
                  s"(column ${required.fields(o).name}, file $path)")
            vals(o) = v
          }
          o += 1
        }
        new GenericInternalRow(vals)
      }
      // releases the zip on completion, on failure and after a limit
      override def close(): Unit = rows.close()
    }
  }
}

/** JDK-only XLSX parsing: zip entries, a DOM over the small metadata
  * parts, and a StAX stream over the worksheet ([[XlsxParser.rows]]).
  * Cell addresses (`r="B3"`, multi-letter `AA1`+ supported) give the
  * column index; `t="s"` cells indirect through the shared-strings
  * table; `t="inlineStr"` concatenates ALL `<t>` runs (rich-text
  * inline strings split one logical value across `<r>` runs);
  * `t="d"` carries an ISO-8601 literal; numeric cells whose style
  * resolves to a date number format are converted to ISO dates using
  * the workbook's date system (`<workbookPr date1904="1"/>` → the
  * 1904 epoch; otherwise the 1900 system including its phantom
  * Feb-29-1900 offset); everything else takes `<v>` verbatim. */
object XlsxParser {

  private def columnIndex(cellRef: String): Int = {
    var i = 0
    var acc = 0
    while (i < cellRef.length && Character.isLetter(cellRef.charAt(i))) {
      acc = acc * 26 + (cellRef.charAt(i) - 'A' + 1)
      i += 1
    }
    acc - 1
  }

  /** Built-in DATE numFmtIds (ECMA-376 §18.8.30): 14–17 are dates and
    * 22 is date+time. Time-only built-ins (18–21) and elapsed
    * durations (45–47) are deliberately NOT dates — converting a
    * time-of-day (serial 0.75 = 18:00) or a duration through the
    * date-serial path would fabricate an 1899 date prefix onto a
    * value that has none. Custom codes are matched case-insensitively
    * (ECMA-376 format codes are case-insensitive, so "YYYY-MM-DD"
    * from other tools counts); elapsed markers like [h]/[mm]/[ss]
    * mean duration and disqualify the code outright; quoted literals
    * and remaining [bracketed] color/condition sections are stripped
    * before the token checks. */
  private def isDateFormat(fmtId: Int, code: Option[String]): Boolean =
    (fmtId >= 14 && fmtId <= 17) || fmtId == 22 ||
      code.exists { c0 =>
        val c = c0.toLowerCase(java.util.Locale.ROOT)
        val elapsed = "\\[(h+|m+|s+)\\]".r.findFirstIn(c).isDefined
        val bare = c.replaceAll("\"[^\"]*\"", "").replaceAll("\\[[^\\]]*\\]", "")
        !elapsed &&
          (bare.exists(ch => ch == 'y' || ch == 'd') ||
            (bare.contains("m") && !bare.exists(ch => ch == 'h' || ch == 's')))
      }

  /** Excel date serial → ISO string. 1900 system: serial 1 =
    * 1900-01-01, with the phantom 1900 leap day at serial 60 — so
    * serials ≥ 61 are days since 1899-12-30, below that since
    * 1899-12-31. 1904 system: days since 1904-01-01. Whole serials
    * print as dates; fractional ones carry a seconds-rounded time. */
  private[graft] def dateSerialToIso(serial: Double, date1904: Boolean): String = {
    val days = math.floor(serial).toLong
    val base =
      if (date1904) java.time.LocalDate.of(1904, 1, 1)
      else if (days >= 61) java.time.LocalDate.of(1899, 12, 30)
      else java.time.LocalDate.of(1899, 12, 31)
    val date = base.plusDays(days)
    val frac = serial - days
    // seconds-rounding can hit 86400 (e.g. serial x.9999999) — that is
    // midnight of the NEXT day, which must render in the same
    // date-only form as the exact integral serial, not as
    // "yyyy-MM-dd 00:00:00" (one instant, one representation)
    val secs = if (frac == 0.0) 0L else math.round(frac * 86400)
    if (secs == 0L) date.toString
    else if (secs >= 86400L) date.plusDays(1).toString
    else
      date.atStartOfDay.plusSeconds(secs)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
  }

  /** XXE/entity-bomb-hardened DOM builder for every workbook part:
    * no DOCTYPEs, no external entities. */
  private def newDocBuilder(): javax.xml.parsers.DocumentBuilder = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
    dbf.setFeature("http://xml.org/sax/features/external-general-entities", false)
    dbf.setFeature("http://xml.org/sax/features/external-parameter-entities", false)
    dbf.setXIncludeAware(false)
    dbf.setExpandEntityReferences(false)
    dbf.newDocumentBuilder()
  }

  /** Sheet inventory over an ALREADY-OPEN zip (so [[parse]] resolves
    * sheets without a second open/parse of the workbook parts). */
  private def sheetInventory(zip: java.util.zip.ZipFile,
                             db: javax.xml.parsers.DocumentBuilder,
                             path: String): Seq[(String, String)] = {
    val rels: Map[String, String] = Option(zip.getEntry("xl/_rels/workbook.xml.rels")).map { e =>
      val doc = db.parse(zip.getInputStream(e))
      val ns = doc.getElementsByTagName("Relationship")
      (0 until ns.getLength).map { i =>
        val r = ns.item(i).asInstanceOf[org.w3c.dom.Element]
        r.getAttribute("Id") -> ("xl/" + r.getAttribute("Target").stripPrefix("/xl/").stripPrefix("xl/"))
      }.toMap
    }.getOrElse(Map.empty)
    val sheets = Option(zip.getEntry("xl/workbook.xml")).map { e =>
      val doc = db.parse(zip.getInputStream(e))
      val ns = doc.getElementsByTagName("sheet")
      (0 until ns.getLength).map { i =>
        val s = ns.item(i).asInstanceOf[org.w3c.dom.Element]
        val rid = s.getAttribute("r:id")
        val target =
          if (rels.isEmpty) s"xl/worksheets/sheet${i + 1}.xml" // rels-less minimal writer
          else rels.getOrElse(rid,
            // rels EXIST but this sheet's rid is missing: falling
            // back positionally could silently return ANOTHER
            // sheet's part — fail instead
            throw new IllegalArgumentException(
              s"$path: sheet '${s.getAttribute("name")}' has no relationship for r:id '$rid'"))
        s.getAttribute("name") -> target
      }
    }.getOrElse(Seq.empty)
    if (sheets.nonEmpty) sheets else Seq("Sheet1" -> "xl/worksheets/sheet1.xml")
  }

  /** Sheet inventory of a workbook, in workbook order: (name, zip
    * entry path), resolved through workbook.xml's r:id →
    * workbook.xml.rels Target indirection (the OPC way — sheet N is
    * NOT guaranteed to live in sheetN.xml in foreign workbooks).
    * Workbooks without the parts (minimal writers) fall back to the
    * bare sheet1.xml. */
  def sheetEntries(path: String): Seq[(String, String)] = {
    val zip = new java.util.zip.ZipFile(path)
    try sheetInventory(zip, newDocBuilder(), path) finally zip.close()
  }

  /** Resolve a user's `sheet` option — a sheet NAME (exact) or a
    * 1-based positional index — against an inventory. */
  private def resolveFrom(entries: Seq[(String, String)], path: String,
                          sheet: Option[String]): String =
    sheet match {
      case None => entries.head._2
      case Some(s) =>
        entries.find(_._1 == s).map(_._2)
          .orElse(s.toIntOption.filter(i => i >= 1 && i <= entries.size)
            .map(i => entries(i - 1)._2))
          .getOrElse(throw new IllegalArgumentException(
            s"$path: no sheet '$s' (sheets: ${entries.map(_._1).mkString(", ")})"))
    }

  private[graft] def resolveSheet(path: String, sheet: Option[String]): String =
    resolveFrom(sheetEntries(path), path, sheet)

  /** XXE-hardened StAX factory for worksheet parts. The JDK's own
    * implementation is named on purpose: `newInstance()` may resolve to
    * another provider on the classpath (Woodstox), which parses an
    * unreferenced internal DTD subset silently even with DTD support
    * off. [[SheetRows]] also rejects any DTD event outright. */
  private def newStaxFactory(): XMLInputFactory = {
    val f = XMLInputFactory.newDefaultFactory()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    // element and attribute names compare as written (`x:row` is not
    // `row`), as in the non-namespace-aware DOM of the metadata parts
    f.setProperty(XMLInputFactory.IS_NAMESPACE_AWARE, false)
    f
  }

  /** Every row of a sheet, header first. */
  def parse(path: String, sheet: Option[String] = None,
            failOnError: Boolean = false): Seq[Seq[String]] =
    Using.resource(rows(path, sheet, failOnError))(_.toVector)

  /** The rows of a sheet, header first, parsed one `<row>` at a time as
    * the iterator advances. The caller closes it (that closes the zip);
    * it also closes itself at the end of the sheet.
    *
    * `failOnError = true` is the FAILFAST contract for `t="e"` error
    * cells (a value-LEVEL problem the typed converter never sees —
    * the parser nulls them before conversion, so the scan's
    * cannot-cast check alone would silently pass them). */
  def rows(path: String, sheet: Option[String] = None,
           failOnError: Boolean = false): SheetRows = {
    val zip = new java.util.zip.ZipFile(path)
    try {
      val db = newDocBuilder()
      val sheetEntry = resolveFrom(sheetInventory(zip, db, path), path, sheet)

      val shared: IndexedSeq[String] = Option(zip.getEntry("xl/sharedStrings.xml")).map { e =>
        val doc = db.parse(zip.getInputStream(e))
        val sis = doc.getElementsByTagName("si")
        (0 until sis.getLength).map(i => sis.item(i).getTextContent)
      }.getOrElse(IndexedSeq.empty)

      // workbook date system (1900 default; date1904="1"/"true" opts in)
      val date1904: Boolean = Option(zip.getEntry("xl/workbook.xml")).exists { e =>
        val doc = db.parse(zip.getInputStream(e))
        val prs = doc.getElementsByTagName("workbookPr")
        (0 until prs.getLength).exists { i =>
          val v = prs.item(i).asInstanceOf[org.w3c.dom.Element].getAttribute("date1904")
          v == "1" || v == "true"
        }
      }

      // style index → is-date-format, via styles.xml cellXfs + numFmts
      val dateStyles: Set[Int] = Option(zip.getEntry("xl/styles.xml")).map { e =>
        val doc = db.parse(zip.getInputStream(e))
        val custom: Map[Int, String] = {
          val fmts = doc.getElementsByTagName("numFmt")
          // a numFmt without a parseable id can't be referenced by any
          // xf — skip it rather than abort the whole workbook
          (0 until fmts.getLength).flatMap { i =>
            val f = fmts.item(i).asInstanceOf[org.w3c.dom.Element]
            Option(f.getAttribute("numFmtId")).filter(_.nonEmpty)
              .flatMap(s => scala.util.Try(s.toInt).toOption)
              .map(_ -> f.getAttribute("formatCode"))
          }.toMap
        }
        val xfsParents = doc.getElementsByTagName("cellXfs")
        if (xfsParents.getLength == 0) Set.empty[Int]
        else {
          val xfs = xfsParents.item(0).asInstanceOf[org.w3c.dom.Element]
            .getElementsByTagName("xf")
          (0 until xfs.getLength).flatMap { i =>
            val id = Option(xfs.item(i).asInstanceOf[org.w3c.dom.Element]
              .getAttribute("numFmtId")).filter(_.nonEmpty).map(_.toInt).getOrElse(0)
            if (isDateFormat(id, custom.get(id))) Some(i) else None
          }.toSet
        }
      }.getOrElse(Set.empty)

      val sheetZipEntry = Option(zip.getEntry(sheetEntry)).getOrElse(
        throw new IllegalArgumentException(s"$path: no $sheetEntry"))
      new SheetRows(path, zip, zip.getInputStream(sheetZipEntry),
        shared, dateStyles, date1904, failOnError)
    } catch { case e: Throwable => zip.close(); throw e }
  }

  /** Row iterator over one worksheet part (see [[rows]]). Malformed XML
    * fails with the file and the number of rows read before it. */
  final class SheetRows private[XlsxParser] (
      path: String, zip: java.util.zip.ZipFile, in: java.io.InputStream,
      shared: IndexedSeq[String], dateStyles: Set[Int], date1904: Boolean,
      failOnError: Boolean) extends Iterator[Seq[String]] with java.io.Closeable {
    import XMLStreamConstants._

    private var rowsRead = 0
    private var atRow = false  // positioned on a <row> start tag
    private var closed = false
    private val xml = guard(newStaxFactory().createXMLStreamReader(in))

    private def guard[A](body: => A): A =
      try body catch {
        case e: XMLStreamException =>
          close()
          throw new IllegalArgumentException(
            s"xlsx: malformed worksheet in $path after row $rowsRead: ${e.getMessage}", e)
      }

    override def hasNext: Boolean = {
      if (!atRow && !closed) atRow = guard(toNextRow())
      atRow
    }

    override def next(): Seq[String] = {
      if (!hasNext) throw new NoSuchElementException(s"xlsx: no more rows in $path")
      atRow = false
      val row = guard(readRow())
      rowsRead += 1
      row
    }

    override def close(): Unit = if (!closed) {
      closed = true
      atRow = false
      try if (xml != null) xml.close() finally zip.close()
    }

    private def toNextRow(): Boolean = {
      while (xml.hasNext) xml.next() match {
        case START_ELEMENT if xml.getLocalName == "row" => return true
        case DTD => throw new IllegalArgumentException(
          s"xlsx: $path: worksheet declares a DTD, which is not allowed")
        case _ =>
      }
      close()
      false
    }

    private val cells = scala.collection.mutable.ArrayBuffer.empty[String]

    /** Cells of the current row, null-padded by column index; leaves
      * the reader on `</row>`. A `<c>` at any depth is a cell, like the
      * DOM's `getElementsByTagName("c")`. */
    private def readRow(): Seq[String] = {
      cells.clear()
      var pos = 0
      var depth = 0
      var inRow = true
      while (inRow) xml.next() match {
        case START_ELEMENT =>
          if (xml.getLocalName == "c") { readCell(pos); pos += 1 }
          else depth += 1
        case END_ELEMENT => if (depth == 0) inRow = false else depth -= 1
        case _ =>
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(cells.toArray)
    }

    /** Stores the cell at the reader, `pos`-th in its row, into
      * `cells`; leaves the reader on `</c>`. */
    private def readCell(pos: Int): Unit = {
      var ref, t, style: String = null
      var a = 0
      while (a < xml.getAttributeCount) {
        xml.getAttributeLocalName(a) match {
          case "r" => ref = xml.getAttributeValue(a)
          case "t" => t = xml.getAttributeValue(a)
          case "s" => style = xml.getAttributeValue(a)
          case _ =>
        }
        a += 1
      }
      var v: String = null    // the first <v>
      var runs: String = null // every <t>, in document order
      var depth = 0
      var inCell = true
      while (inCell) xml.next() match {
        case START_ELEMENT => xml.getLocalName match {
          case "v" => val s = text(); if (v == null) v = s
          case "t" => val s = text(); runs = if (runs == null) s else runs + s
          case _ => depth += 1
        }
        case END_ELEMENT => if (depth == 0) inCell = false else depth -= 1
        case _ =>
      }
      val idx = if (ref == null || ref.isEmpty) pos else columnIndex(ref)
      val cell = value(ref, t, style, v, runs)
      while (cells.length <= idx) cells += null
      cells(idx) = cell
    }

    private def value(ref: String, t: String, style: String, v: String, runs: String): String =
      t match {
        case "s" => if (v != null) shared(v.trim.toInt) else null
        // rich-text inline strings carry multiple <r><t> runs — one
        // logical value, concatenated in document order
        case "inlineStr" => runs
        case "d" => v // ISO-8601 date literal cell — verbatim
        // FORMULA cell with a cached STRING result: <f> holds the
        // formula, <v> the cached text — the value is the cache,
        // verbatim, and never date-converted (it is text, not a
        // serial; numeric formula caches have no t attribute and take
        // the default branch below, including date-style conversion)
        case "str" => v
        case "e" =>
          // ERROR cell (#DIV/0!, #N/A, …): there is no usable value.
          // PERMISSIVE reads null (like a malformed cell); FAILFAST
          // surfaces the error with cell context — the CSV-mode
          // contract applied to workbook semantics
          if (failOnError)
            throw new IllegalArgumentException(
              s"xlsx FAILFAST: error cell ${Option(v).getOrElse("#ERROR")} " +
                s"at ${Option(ref).getOrElse("")} in $path")
          else null
        case _ =>
          // numeric cell styled as a date → resolve through the
          // workbook date system to an ISO string. A malformed style
          // index (s="x") means "not a date style", not a whole-file
          // abort
          val styleIdx = Option(style).flatMap(s => scala.util.Try(s.toInt).toOption)
          if (v != null && styleIdx.exists(dateStyles.contains))
            try dateSerialToIso(v.trim.toDouble, date1904)
            catch { case _: NumberFormatException => v }
          else v
      }

    /** Text of the current element, nested elements included (DOM
      * `getTextContent`); leaves the reader on its end tag. */
    private def text(): String = {
      val sb = new java.lang.StringBuilder
      var depth = 1
      while (depth > 0) xml.next() match {
        case START_ELEMENT => depth += 1
        case END_ELEMENT => depth -= 1
        case CHARACTERS | CDATA | SPACE =>
          sb.append(xml.getTextCharacters, xml.getTextStart, xml.getTextLength)
        case _ =>
      }
      sb.toString
    }
  }

  /** Minimal XLSX writer (driver-side utility for tests/round-trips):
    * one sheet, inline strings, no shared-strings table. Produces a
    * file this reader and standard tools can open. Rows stream into
    * the sheet entry; the sheet is never built as one string. */
  def write(path: String, header: Seq[String], rows: Iterable[Seq[String]]): Unit = {
    def esc(s: String): String =
      if (s == null) ""
      else s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def colRef(i: Int): String = {
      var n = i + 1
      val sb = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    def writeRow(w: java.io.Writer, r: Int, vals: Seq[String]): Unit = {
      w.write(s"""<row r="${r + 1}">""")
      vals.iterator.zipWithIndex.foreach {
        // null cells are omitted entirely; the reader pads them back as null
        case (v, i) if v != null =>
          w.write(s"""<c r="${colRef(i)}${r + 1}" t="inlineStr"><is><t>${esc(v)}</t></is></c>""")
        case _ =>
      }
      w.write("</row>")
    }

    val contentTypes =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        "</Types>"
    val workbook =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        "</Relationships>"

    val zos = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(path)))
    val out = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(zos, java.nio.charset.StandardCharsets.UTF_8))
    try {
      def entry(name: String)(body: => Unit): Unit = {
        zos.putNextEntry(new java.util.zip.ZipEntry(name))
        body
        out.flush()
        zos.closeEntry()
      }
      entry("[Content_Types].xml")(out.write(contentTypes))
      entry("xl/workbook.xml")(out.write(workbook))
      entry("xl/_rels/workbook.xml.rels")(out.write(rels))
      entry("xl/worksheets/sheet1.xml") {
        out.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
        writeRow(out, 0, header)
        var r = 1
        rows.foreach { row => writeRow(out, r, row); r += 1 }
        out.write("</sheetData></worksheet>")
      }
    } finally out.close()
  }
}
