package graft

import graft.sources.xlsx.XlsxParser
import org.apache.spark.sql.functions._

/** Specs for the JDK-only XLSX DataSource V2. */
class XlsxSourceSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_xlsx").toString
    s"$d/$name"
  }

  test("write → read round-trip preserves header and cells") {
    val path = tmp("t1.xlsx")
    XlsxParser.write(path,
      Seq("id", "name", "qty"),
      Seq(Seq("1", "alpha", "10"), Seq("2", "beta & <gamma>", "20"), Seq("3", null, "30")))
    val df = spark.read.format("xlsx").load(path)
    assert(df.columns.toSeq === Seq("id", "name", "qty"))
    val rows = df.orderBy("id").collect()
    assert(rows.length === 3)
    assert(rows(1).getString(1) === "beta & <gamma>") // XML escaping round-trips
    assert(rows(2).isNullAt(1)) // empty inline string reads as null... or empty
  }

  test("reference pipeline end-to-end: filter xlsx names, then READ the xlsx content") {
    // the step the reference stubs at main.py:17 — actually done here
    val path = tmp("relatorio_1.xlsx")
    XlsxParser.write(path, Seq("produto", "valor"),
      Seq(Seq("cafe", "12.50"), Seq("acucar", "8.00")))
    import spark.implicits._
    val notifications = Seq(
      ("tma-0", "minha-pasta/relatorio_1.xlsx", path),
      ("tma-0", "minha-pasta/skip.csv", path)).toDF("bucket", "name", "local_path")
    val accepted = notifications.filter(
      graft.api.Graft.objectNameAccept(col("name"), "minha-pasta/", ".xlsx"))
    val localPath = accepted.select("local_path").head().getString(0)
    val content = spark.read.format("xlsx").load(localPath)
      .agg(round(sum(col("valor").cast("double")), 2).as("total")).head()
    assert(content.getDouble(0) === 20.5)
  }

  test("multiple files → one partition each") {
    val p1 = tmp("a.xlsx"); val p2 = tmp("b.xlsx")
    XlsxParser.write(p1, Seq("x"), Seq(Seq("1")))
    XlsxParser.write(p2, Seq("x"), Seq(Seq("2")))
    val df = spark.read.format("xlsx").load(p1, p2)
    assert(df.rdd.getNumPartitions === 2)
    assert(df.collect().map(_.getString(0)).sorted.toSeq === Seq("1", "2"))
  }

  test("column pruning reaches the xlsx scan (projection reads only requested columns)") {
    val path = tmp("prune.xlsx")
    XlsxParser.write(path, Seq("a", "b", "c"),
      Seq(Seq("1", "x", "p"), Seq("2", "y", "q")))
    val df = spark.read.format("xlsx").load(path).select("b")
    // the scan's ReadSchema must contain only the projected column
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("BatchScan")).getOrElse("")
    assert(scanLine.contains("b#") && !scanLine.contains("a#") && !scanLine.contains("c#"),
      scanLine)
    assert(df.collect().map(_.getString(0)).sorted.toSeq === Seq("x", "y"))
  }

  test("DSv2 write path: df.write.format(\"xlsx\") to a fresh directory, read back") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx_w").toString + "/out"
    Seq((1L, "alpha", 1.5), (2L, "beta", 2.5), (3L, null, 3.5))
      .toDF("id", "name", "score")
      .repartition(2)
      .write.format("xlsx").mode("append").save(dir)
    // one part workbook per partition
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xlsx"))
    assert(parts.length === 2)
    assert(parts.forall(_.getName.startsWith("part-")))
    val back = spark.read.format("xlsx").load(dir)
    assert(back.columns.toSeq === Seq("id", "name", "score"))
    val rows = back.orderBy(col("id").cast("long")).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("1", "2", "3"))
    assert(rows.map(_.getString(2)).toSeq === Seq("1.5", "2.5", "3.5"))
    assert(rows(2).isNullAt(1)) // null cell round-trips as null
  }

  test("DSv2 write path: two sequential appends accumulate, never clobber") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx_a2").toString + "/out"
    Seq(("first", 1L)).toDF("tag", "v").coalesce(1)
      .write.format("xlsx").mode("append").save(dir)
    // both jobs have a partition 0 — filenames must still be distinct
    Seq(("second", 2L)).toDF("tag", "v").coalesce(1)
      .write.format("xlsx").mode("append").save(dir)
    val back = spark.read.format("xlsx").load(dir)
    assert(back.select("tag").collect().map(_.getString(0)).sorted.toSeq
      === Seq("first", "second"))
  }

  test("DSv2 read of a nonexistent path fails fast, not as an empty frame") {
    intercept[Exception] {
      spark.read.format("xlsx").load("/tmp/graft_no_such_dir_xyz/reprots.xlsx").count()
    }
  }

  test("DSv2 write path: overwrite truncates previous part files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_xlsx_o").toString + "/out"
    Seq(("old", 1L)).toDF("tag", "v").coalesce(1)
      .write.format("xlsx").mode("append").save(dir)
    Seq(("new", 2L), ("new2", 3L)).toDF("tag", "v").coalesce(1)
      .write.format("xlsx").mode("overwrite").save(dir)
    val back = spark.read.format("xlsx").load(dir)
    assert(back.select("tag").collect().map(_.getString(0)).sorted.toSeq === Seq("new", "new2"))
  }

  test("corrupt input: not-a-zip and zip-without-sheet both fail with clear errors") {
    val notZip = tmp("corrupt.xlsx")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(notZip), "this is not a zip")
    intercept[Exception] { XlsxParser.parse(notZip) }
    val noSheet = tmp("nosheet.xlsx")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(noSheet))
    zos.putNextEntry(new java.util.zip.ZipEntry("unrelated.txt"))
    zos.write("x".getBytes("UTF-8")); zos.closeEntry(); zos.close()
    val e = intercept[IllegalArgumentException] { XlsxParser.parse(noSheet) }
    assert(e.getMessage.contains("sheet1.xml"))
  }

  test("doctype-bearing workbook is rejected (XXE hardening)") {
    val path = tmp("xxe.xlsx")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    zos.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
    zos.write(("""<?xml version="1.0"?><!DOCTYPE x [<!ENTITY e SYSTEM "file:///etc/passwd">]>""" +
      """<worksheet><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>&e;</t></is></c></row></sheetData></worksheet>""")
      .getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
    intercept[Exception] { XlsxParser.parse(path) } // disallow-doctype-decl
  }

  test("shared-strings workbooks parse too (t=\"s\" indirection)") {
    // hand-build a workbook that uses the sharedStrings table
    val path = tmp("shared.xlsx")
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def entry(n: String, c: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    entry("xl/sharedStrings.xml",
      """<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>col1</t></si><si><t>hello</t></si></sst>""")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
        """<row r="2"><c r="A2" t="s"><v>1</v></c><c r="B2"><v>42</v></c></row>""" +
        """</sheetData></worksheet>""")
    zos.close()
    val df = spark.read.format("xlsx").load(path)
    assert(df.columns.head === "col1")
    val row = df.head()
    assert(row.getString(0) === "hello")
  }

  /** A workbook whose only part is `xl/worksheets/sheet1.xml`, verbatim. */
  private def writeSheetPart(path: String, xml: String): Unit = {
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    zos.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
    zos.write(xml.getBytes("UTF-8"))
    zos.closeEntry(); zos.close()
  }

  private def buildWorkbook(path: String, sheetXml: String): Unit =
    writeSheetPart(path,
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        sheetXml + """</sheetData></worksheet>""")

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)

  private def inlineRow(r: Int, cells: String*): String =
    s"""<row r="$r">""" + cells.zipWithIndex.map { case (v, i) =>
      s"""<c r="${('A' + i).toChar}$r" t="inlineStr"><is><t>$v</t></is></c>"""
    }.mkString + "</row>"

  test("formula cells: t=\"str\" takes the cached string; numeric caches convert typed") {
    // the first real-world workbook a user drops contains formulas —
    // the reader must take the CACHED <v>, never the <f> text
    val path = tmp("formulas.xlsx")
    buildWorkbook(path,
      """<row r="1"><c r="A1" t="inlineStr"><is><t>label</t></is></c><c r="B1" t="inlineStr"><is><t>total</t></is></c></row>""" +
        // t="str": CONCATENATE formula with cached string result
        """<row r="2"><c r="A2" t="str"><f>CONCATENATE("a","b")</f><v>ab</v></c>""" +
        // no t attribute: SUM formula with cached numeric result
        """<c r="B2"><f>SUM(C2:D2)</f><v>42</v></c></row>""")
    val df = spark.read.format("xlsx").option("inferSchema", true).load(path)
    val r = df.head()
    assert(r.getString(0) === "ab")
    assert(r.getLong(1) === 42L) // cached numeric inferred long, not string
  }

  test("error cells: null under PERMISSIVE, abort with context under FAILFAST") {
    val path = tmp("errors.xlsx")
    buildWorkbook(path,
      """<row r="1"><c r="A1" t="inlineStr"><is><t>x</t></is></c><c r="B1" t="inlineStr"><is><t>y</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="e"><v>#DIV/0!</v></c></row>""" +
        """<row r="3"><c r="A3"><v>2</v></c><c r="B3"><v>7</v></c></row>""")
    // PERMISSIVE (default): the error cell reads as null, scan survives
    val rows = spark.read.format("xlsx").load(path)
      .orderBy(org.apache.spark.sql.functions.col("x")).collect()
    assert(rows.length === 2)
    assert(rows(0).isNullAt(1))
    assert(rows(1).getString(1) === "7")
    // FAILFAST: the error cell aborts with file/cell context
    val e = intercept[Exception] {
      spark.read.format("xlsx").option("mode", "FAILFAST").load(path).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    val all = messages(e).mkString(" | ")
    assert(all.contains("#DIV/0!") && all.contains("B2"), all)
  }

  test("part files with mismatched headers fail loudly instead of misaligning columns") {
    // ADVICE r4: cells map to output columns by ordinal, so a part
    // with reordered columns would silently put values in the wrong
    // (mistyped) columns — both the inference path and the scan path
    // must reject it with both headers in the message
    val dir = tmp("mismatch_dir")
    new java.io.File(dir).mkdirs()
    buildWorkbook(s"$dir/part-0.xlsx",
      """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>""")
    buildWorkbook(s"$dir/part-1.xlsx",
      """<row r="1"><c r="A1" t="inlineStr"><is><t>b</t></is></c><c r="B1" t="inlineStr"><is><t>a</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>3</v></c><c r="B2"><v>4</v></c></row>""")
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // scan path (all-string read, no inference)
    val e1 = intercept[Exception] {
      spark.read.format("xlsx").load(dir).collect()
    }
    assert(messages(e1).mkString(" | ").contains("does not match the first part's header"),
      messages(e1).mkString(" | "))
    // inference path fails at planning, before any scan runs
    val e2 = intercept[Exception] {
      spark.read.format("xlsx").option("inferSchema", true).load(dir).schema
    }
    assert(messages(e2).mkString(" | ").contains("does not match the first part's header"),
      messages(e2).mkString(" | "))
    // matching parts still read fine together
    buildWorkbook(s"$dir/part-1.xlsx",
      """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>3</v></c><c r="B2"><v>4</v></c></row>""")
    assert(spark.read.format("xlsx").load(dir).count() === 2)
  }

  test("zero-row parts read as empty instead of failing header validation") {
    // an empty sheet has no header row at all — there is nothing to
    // validate and nothing to misalign, so it must not abort a
    // multi-part scan (writers emit empty parts routinely)
    val dir = tmp("zero_row_dir")
    new java.io.File(dir).mkdirs()
    buildWorkbook(s"$dir/part-0.xlsx",
      """<row r="1"><c r="A1" t="inlineStr"><is><t>a</t></is></c><c r="B1" t="inlineStr"><is><t>b</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>1</v></c><c r="B2"><v>2</v></c></row>""")
    buildWorkbook(s"$dir/part-1.xlsx", "") // completely empty sheetData
    // scan path: rows come only from the non-empty part
    assert(spark.read.format("xlsx").load(dir).count() === 1)
    // inference path: the empty part contributes no samples, types
    // still infer from the populated part
    val inferred = spark.read.format("xlsx").option("inferSchema", true).load(dir)
    assert(inferred.schema.fields.map(_.dataType.typeName).toSeq === Seq("long", "long"))
    assert(inferred.count() === 1)
    // a mismatched NON-empty part must still fail (the guard only
    // exempts genuinely empty sheets)
    buildWorkbook(s"$dir/part-2.xlsx",
      """<row r="1"><c r="A1" t="inlineStr"><is><t>b</t></is></c><c r="B1" t="inlineStr"><is><t>a</t></is></c></row>""" +
        """<row r="2"><c r="A2"><v>9</v></c><c r="B2"><v>9</v></c></row>""")
    val e = intercept[Exception] { spark.read.format("xlsx").load(dir).collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).mkString(" | ").contains("does not match the first part's header"))
  }

  test("doctype with an unreferenced internal entity is rejected, naming the file") {
    // a DTD-tolerant StAX provider parses this silently when the
    // entity is never used; the worksheet reader must still refuse it
    val path = tmp("dtd.xlsx")
    writeSheetPart(path,
      """<?xml version="1.0"?><!DOCTYPE x [<!ENTITY e "boom">]>""" +
        """<worksheet><sheetData>""" + inlineRow(1, "a") + """</sheetData></worksheet>""")
    val e = intercept[IllegalArgumentException] { XlsxParser.parse(path) }
    assert(e.getMessage.contains(path), e.getMessage)
  }

  test("a sheet truncated past the inference sample plans from its prefix, then fails the scan naming the file") {
    val path = tmp("truncated.xlsx")
    val good = (1 to 3000).map(i => s"""<row r="${i + 1}"><c r="A${i + 1}"><v>$i</v></c>""" +
      s"""<c r="B${i + 1}" t="inlineStr"><is><t>n$i</t></is></c><c r="C${i + 1}"><v>$i.5</v></c></row>""")
    writeSheetPart(path,
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        inlineRow(1, "id", "name", "amount") + good.mkString +
        """<row r="3002"><c r="A3002"><v>30""")
    // planning reads the header (and the sample) only, so both succeed
    assert(spark.read.format("xlsx").load(path).schema.fieldNames.toSeq ===
      Seq("id", "name", "amount"))
    val typed = spark.read.format("xlsx").option("inferSchema", true).load(path)
    assert(typed.schema.fields.map(_.dataType.typeName).toSeq === Seq("long", "string", "double"))
    // the scan reaches the truncation and fails loudly with the file
    // and the last good row
    val e = intercept[Exception] { typed.collect() }
    val all = messages(e).mkString(" | ")
    assert(all.contains(path) && all.contains("after row 3001"), all)
  }

  test("scans that stop early (FAILFAST error, limit) release their workbook files") {
    def openFds(): Int = new java.io.File("/proc/self/fd").list().length
    val dir = tmp("fd_dir")
    new java.io.File(dir).mkdirs()
    val rows = (1 to 1000).map { i =>
      val b = if (i == 500) s"""<c r="B${i + 1}" t="e"><v>#N/A</v></c>"""
              else s"""<c r="B${i + 1}"><v>$i</v></c>"""
      s"""<row r="${i + 1}"><c r="A${i + 1}"><v>$i</v></c>$b</row>"""
    }.mkString
    buildWorkbook(s"$dir/w0.xlsx", inlineRow(1, "id", "v") + rows)
    // one file per read: the JDK shares one descriptor among open
    // handles of the same file, which would hide a per-read leak
    val paths = (1 to 40).map { i =>
      val p = s"$dir/w$i.xlsx"
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/w0.xlsx"), java.nio.file.Paths.get(p))
      p
    }
    // descriptors open on one workbook, checked as each read returns:
    // a GC closes an abandoned zip later, which the total can miss
    def openOn(p: String): Int = {
      val target = new java.io.File(p).getCanonicalPath
      new java.io.File("/proc/self/fd").listFiles().count(f =>
        scala.util.Try(java.nio.file.Files.readSymbolicLink(f.toPath).toString == target)
          .getOrElse(false))
    }
    spark.read.format("xlsx").load(s"$dir/w0.xlsx").limit(1).collect() // warm-up
    val before = openFds()
    val failFastLeaks = paths.take(20).map { p =>
      val e = intercept[Exception] {
        spark.read.format("xlsx").option("mode", "FAILFAST").load(p).collect()
      }
      assert(messages(e).mkString(" | ").contains("#N/A"))
      openOn(p)
    }.sum
    val limitLeaks = paths.drop(20).map { p =>
      assert(spark.read.format("xlsx").load(p).limit(1).collect().length === 1)
      openOn(p)
    }.sum
    assert(failFastLeaks === 0 && limitLeaks === 0,
      s"workbooks left open: $failFastLeaks after FAILFAST aborts, $limitLeaks after limit(1)")
    val grown = openFds() - before
    assert(grown < 20, s"open descriptors grew by $grown over 40 early-stopped scans")
  }

  test("writer emits the recorded sheet1.xml bytes (28 columns, nulls, escaping)") {
    val path = tmp("golden.xlsx")
    val header = (0 until 28).map(i => s"h$i")
    XlsxParser.write(path, header, Seq(
      Seq("1", "a & b <c>") ++ Seq.fill(24)(null: String) ++ Seq("x", "y"),
      Seq("2", null) ++ Seq.fill(24)(null: String) ++ Seq("z", null),
      Seq("3", "") ++ Seq.fill(25)(null: String) ++ Seq("&")))
    val zip = new java.util.zip.ZipFile(path)
    val got = try new String(zip.getInputStream(zip.getEntry("xl/worksheets/sheet1.xml"))
      .readAllBytes(), "UTF-8") finally zip.close()
    // recorded from the writer before rows streamed into the entry
    val expected =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
        """<row r="1">""" +
        """<c r="A1" t="inlineStr"><is><t>h0</t></is></c><c r="B1" t="inlineStr"><is><t>h1</t></is></c>""" +
        """<c r="C1" t="inlineStr"><is><t>h2</t></is></c><c r="D1" t="inlineStr"><is><t>h3</t></is></c>""" +
        """<c r="E1" t="inlineStr"><is><t>h4</t></is></c><c r="F1" t="inlineStr"><is><t>h5</t></is></c>""" +
        """<c r="G1" t="inlineStr"><is><t>h6</t></is></c><c r="H1" t="inlineStr"><is><t>h7</t></is></c>""" +
        """<c r="I1" t="inlineStr"><is><t>h8</t></is></c><c r="J1" t="inlineStr"><is><t>h9</t></is></c>""" +
        """<c r="K1" t="inlineStr"><is><t>h10</t></is></c><c r="L1" t="inlineStr"><is><t>h11</t></is></c>""" +
        """<c r="M1" t="inlineStr"><is><t>h12</t></is></c><c r="N1" t="inlineStr"><is><t>h13</t></is></c>""" +
        """<c r="O1" t="inlineStr"><is><t>h14</t></is></c><c r="P1" t="inlineStr"><is><t>h15</t></is></c>""" +
        """<c r="Q1" t="inlineStr"><is><t>h16</t></is></c><c r="R1" t="inlineStr"><is><t>h17</t></is></c>""" +
        """<c r="S1" t="inlineStr"><is><t>h18</t></is></c><c r="T1" t="inlineStr"><is><t>h19</t></is></c>""" +
        """<c r="U1" t="inlineStr"><is><t>h20</t></is></c><c r="V1" t="inlineStr"><is><t>h21</t></is></c>""" +
        """<c r="W1" t="inlineStr"><is><t>h22</t></is></c><c r="X1" t="inlineStr"><is><t>h23</t></is></c>""" +
        """<c r="Y1" t="inlineStr"><is><t>h24</t></is></c><c r="Z1" t="inlineStr"><is><t>h25</t></is></c>""" +
        """<c r="AA1" t="inlineStr"><is><t>h26</t></is></c><c r="AB1" t="inlineStr"><is><t>h27</t></is></c>""" +
        """</row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>1</t></is></c>""" +
        """<c r="B2" t="inlineStr"><is><t>a &amp; b &lt;c&gt;</t></is></c>""" +
        """<c r="AA2" t="inlineStr"><is><t>x</t></is></c><c r="AB2" t="inlineStr"><is><t>y</t></is></c></row>""" +
        """<row r="3"><c r="A3" t="inlineStr"><is><t>2</t></is></c>""" +
        """<c r="AA3" t="inlineStr"><is><t>z</t></is></c></row>""" +
        """<row r="4"><c r="A4" t="inlineStr"><is><t>3</t></is></c>""" +
        """<c r="B4" t="inlineStr"><is><t></t></is></c>""" +
        """<c r="AB4" t="inlineStr"><is><t>&amp;</t></is></c></row>""" +
        """</sheetData></worksheet>"""
    assert(got === expected)
  }
}
