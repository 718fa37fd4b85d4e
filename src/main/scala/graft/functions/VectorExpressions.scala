package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.sql.SparkSession

/** Native Catalyst expressions for the similarity hot path
  * (SURVEY.md §4.3: a codegen'd dot product is the perf upgrade over
  * higher-order-function folds at 100 TB — the HOF version allocates a
  * lambda frame per element; these compile to a tight primitive loop
  * inside whole-stage codegen).
  *
  * Registered as SQL functions `graft_dot` / `graft_l2norm` via
  * [[graft.plans.GraftExtensions]] (SparkSessionExtensions) or
  * [[VectorFunctions.register]] (imperative, session-scoped).
  */
case class DotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  // Inputs must be array<double>; call sites cast explicitly
  // (AbstractDataType/ExpectsInputTypes are private[sql] in Spark 4).
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"
  override def nullable: Boolean = true

  // NULL semantics match the declarative fold exactly (the contract
  // NativeVectorRewrite relies on): zip_with null-pads a length
  // mismatch and a null element poisons the sum, so both cases are
  // NULL here too.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0
    var s = 0.0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** L2 norm of a double vector — same codegen rationale as [[DotProduct]]. */
case class L2Norm(child: Expression)
  extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"
  override def nullable: Boolean = true

  // Null-element semantics match the declarative fold (NULL poisons
  // the sum) — required by NativeVectorRewrite.
  override protected def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var i = 0
    var s = 0.0
    val n = x.numElements()
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = x.getDouble(i)
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |  double $v = $a.getDouble($i);
         |  $s += $v * $v;
         |}
         |if (!${ev.isNull}) { ${ev.value} = java.lang.Math.sqrt($s); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Random-hyperplane LSH bucket signature (operators/Similarity.scala):
  * one sign bit per deterministic ±1 hyperplane. The plane component
  * for (plane p, dim i) is +1 iff ((i+1)·2654435761 + p·40503) mod 97
  * < 48 — integer-exact, so the DuckDB oracle reproduces it. Codegen
  * emits the whole P×N loop as primitive arithmetic; the HOF
  * formulation costs a lambda frame per (plane, dim) pair. */
case class LshSignature(child: Expression)
  extends UnaryExpression {

  private val planes = 8

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "graft_lsh_sig"

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val sb = new java.lang.StringBuilder(planes)
    var p = 0
    while (p < planes) {
      var s = 0.0
      var i = 0
      while (i < n) {
        val m = ((i + 1).toLong * 2654435761L + p.toLong * 40503L) % 97L
        s += v.getDouble(i) * (if (m < 48L) 1.0 else -1.0)
        i += 1
      }
      sb.append(if (s >= 0) '1' else '0')
      p += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val m = ctx.freshName("m")
      val sb = ctx.freshName("sb")
      s"""
         |int $n = $a.numElements();
         |java.lang.StringBuilder $sb = new java.lang.StringBuilder($planes);
         |for (int $p = 0; $p < $planes; $p++) {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $m = (((long) ($i + 1)) * 2654435761L + ((long) $p) * 40503L) % 97L;
         |    $s += $a.getDouble($i) * ($m < 48L ? 1.0 : -1.0);
         |  }
         |  $sb.append($s >= 0 ? '1' : '0');
         |}
         |${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString($sb.toString());
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LshSignature =
    copy(child = newChild)
}

/** SimHash vote fold: input is an array<long> of per-token hashes;
  * output is the 16-bit fingerprint whose bit b is set iff the +1/−1
  * votes of bit b across tokens sum positive. One pass over the
  * tokens with 16 integer counters — replaces 16 separate
  * higher-order-function folds (one array traversal per bit). */
case class SimhashFold(child: Expression)
  extends UnaryExpression {

  private val bits = 16

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_simhash_fold"

  override protected def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val n = v.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = v.getLong(i)
      var b = 0
      while (b < bits) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |int $n = $a.numElements();
         |int[] $votes = new int[$bits];
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $a.getLong($i);
         |  for (int $b = 0; $b < $bits; $b++) {
         |    $votes[$b] += ((($h >> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < $bits; $b++) {
         |  if ($votes[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimhashFold =
    copy(child = newChild)
}

/** Nearest-centroid argmax for IVF cell assignment — the O(N·k)
  * quantizer hot loop as ONE native expression. The higher-order
  * formulation (transform over the centroid literal + aggregate
  * fold, kept as `Similarity.assignCellsHof` for differential
  * testing) is CodegenFallback territory: per row it allocates k
  * lambda frames and k (cosine, cell) structs — measured ~4 s per
  * pass at 20k rows × 313 centroids, where this loop is
  * milliseconds. With the corpus-proportional k the assignment is
  * the quantizer's dominant term, so its constant matters.
  *
  * Children: (vector, its L2 norm, the FOLDABLE centroid table —
  * array<struct<cent_id, cv, cn>> sorted by cent_id, the same
  * literal the HOF path folds over). The table is decoded once per
  * expression instance, not per row.
  *
  * Semantics are oracle-pinned, identical to the HOF when-chain:
  *  - division by zero (zero-norm vector or zero centroid) scores
  *    -Inf — DuckDB's NULL, ranked LAST under DESC + NULLS LAST;
  *  - genuine NaN cosine scores +Inf — DuckDB ranks NaN FIRST;
  *  - the first centroid is adopted unconditionally and only a
  *    STRICTLY greater score replaces it → ties (incl. all-degenerate
  *    rows) resolve to the smallest cent_id, DuckDB's tie-break. */
case class CentroidArgmax(vec: Expression, norm: Expression, cents: Expression)
  extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = norm
  override def third: Expression = cents
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_argmax_cell"
  override def nullable: Boolean = true

  @transient private lazy val (ids, cvs, cns): (Array[Long], Array[Array[Double]], Array[Double]) = {
    require(cents.foldable, "graft_argmax_cell: centroid table must be foldable")
    val arr = cents.eval().asInstanceOf[ArrayData]
    val k = arr.numElements()
    val is = new Array[Long](k)
    val vs = new Array[Array[Double]](k)
    val ns = new Array[Double](k)
    var i = 0
    while (i < k) {
      val row = arr.getStruct(i, 3)
      is(i) = row.getLong(0)
      vs(i) = row.getArray(1).toDoubleArray()
      ns(i) = row.getDouble(2)
      i += 1
    }
    (is, vs, ns)
  }

  def argmax(v: ArrayData, vn: Double): Long = {
    val x = v.toDoubleArray() // null vector elements don't occur in a
    // float-parquet-sourced corpus; the HOF twin degrades identically
    // (all scores unusable → first centroid), differential-tested
    var best = 0.0
    var bestCell = -1L
    var adopted = false
    var c = 0
    val k = ids.length
    while (c < k) {
      val cv = cvs(c)
      val m = if (x.length < cv.length) x.length else cv.length
      var s = 0.0
      var i = 0
      while (i < m) { s += x(i) * cv(i); i += 1 }
      val den = vn * cns(c)
      var score =
        if (den == 0.0) Double.NegativeInfinity
        else s / den
      if (java.lang.Double.isNaN(score)) score = Double.PositiveInfinity
      if (!adopted || score > best) { best = score; bestCell = ids(c); adopted = true }
      c += 1
    }
    bestCell
  }

  override protected def nullSafeEval(v: Any, vn: Any, c: Any): Any =
    argmax(v.asInstanceOf[ArrayData], vn.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("argmaxImpl", this, classOf[CentroidArgmax].getName)
    nullSafeCodeGen(ctx, ev, (v, vn, _) => s"${ev.value} = $ref.argmax($v, $vn);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CentroidArgmax =
    copy(vec = newFirst, norm = newSecond, cents = newThird)
}

/** Shared decode of the foldable PQ codebook literal —
  * array<struct<m:int, code:long, cv:array<double>>> sorted by
  * (m, code) — into primitive lookup tables. Decoded ONCE per
  * expression instance (the literal is a bounded model artifact, the
  * same contract as the IVF centroid literal). */
private[functions] final class PqCodebookTable(cb: Expression) extends Serializable {
  require(cb.foldable, "PQ codebook must be foldable")
  // per subspace (in ascending m order): codes sorted ascending and
  // their codeword vectors; offsets locate each subspace's dims in
  // the full vector
  @transient lazy val (codes, cvs, offsets, totalDim): (Array[Array[Long]], Array[Array[Array[Double]]], Array[Int], Int) = {
    val arr = cb.eval().asInstanceOf[ArrayData]
    val rows = (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getInt(0), r.getLong(1), r.getArray(2).toDoubleArray())
    }
    val byM = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val cs = byM.map(_._2.sortBy(_._2).map(_._2).toArray).toArray
    val vs = byM.map(_._2.sortBy(_._2).map(_._3).toArray).toArray
    val offs = new Array[Int](byM.size)
    var off = 0
    var m = 0
    while (m < byM.size) {
      offs(m) = off
      off += vs(m).head.length
      m += 1
    }
    (cs, vs, offs, off)
  }
}

/** `graft_pq_encode(vec, codebook)` — product-quantization encoding:
  * the vector's M subspace slices each map to their nearest codeword
  * (min squared L2, ties to the smaller code), yielding an
  * array<long> of M codes. THIS is the compressed representation a
  * 100 TB ANN deployment stores and scans: with ksub=256 a 64-dim
  * float vector (256 B) becomes M=8 one-byte codes — 32× less scan
  * I/O — while the codebook (M·ksub·subDim doubles) stays a bounded
  * model artifact shipped like a broadcast.
  *
  * Oracle-pinned semantics (the DuckDB replay ranks
  * `ORDER BY dist ASC, code ASC`):
  *  - squared L2 accumulated left-to-right over the slice;
  *  - a NaN distance scores +Inf (DuckDB sorts NaN LAST ascending),
  *    so an all-NaN slice falls back to the smallest code — both
  *    engines agree;
  *  - vector elements beyond the input's length read as 0.0 (cannot
  *    happen on a fixed-dim parquet corpus; totalizes the expression). */
case class PqEncode(vec: Expression, cb: Expression)
  extends BinaryExpression {

  override def left: Expression = vec
  override def right: Expression = cb
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override def nullable: Boolean = true

  @transient private lazy val table = new PqCodebookTable(cb)

  def encode(v: ArrayData): ArrayData = {
    val x = v.toDoubleArray()
    val nM = table.codes.length
    val out = new Array[Any](nM)
    var m = 0
    while (m < nM) {
      val cs = table.codes(m)
      val vs = table.cvs(m)
      val off = table.offsets(m)
      var best = 0.0
      var bestCode = 0L
      var adopted = false
      var c = 0
      while (c < cs.length) {
        val cv = vs(c)
        var s = 0.0
        var i = 0
        while (i < cv.length) {
          val xi = if (off + i < x.length) x(off + i) else 0.0
          val d = xi - cv(i)
          s += d * d
          i += 1
        }
        if (java.lang.Double.isNaN(s)) s = Double.PositiveInfinity
        if (!adopted || s < best) { best = s; bestCode = cs(c); adopted = true }
        c += 1
      }
      out(m) = bestCode
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any, c: Any): Any =
    encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncoder", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $ref.encode($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(vec = newLeft, cb = newRight)
}

/** Shared decode of the IVF centroid literal
  * (array<struct<cent_id, cv, cn>>, the [[CentroidArgmax]] table)
  * into an id-indexed lookup — for the residual arithmetic of
  * IVF-PQ. */
private[functions] final class CentroidTable(cents: Expression) extends Serializable {
  require(cents.foldable, "centroid table must be foldable")
  @transient lazy val (ids, cvs): (Array[Long], Array[Array[Double]]) = {
    val arr = cents.eval().asInstanceOf[ArrayData]
    val rows = (0 until arr.numElements()).map { i =>
      val r = arr.getStruct(i, 3)
      (r.getLong(0), r.getArray(1).toDoubleArray())
    }.sortBy(_._1)
    (rows.map(_._1).toArray, rows.map(_._2).toArray)
  }
  /** centroid vector for a cell id; empty for an unknown id. */
  def cv(cell: Long): Array[Double] = {
    val idx = java.util.Arrays.binarySearch(ids, cell)
    if (idx >= 0) cvs(idx) else Array.emptyDoubleArray
  }
}

/** `graft_cell_residual(vec, cell, cents)` — `vec - centroid(cell)`,
  * the quantity residual PQ codebooks train on and encode: after
  * coarse assignment the residual is what remains to compress, and
  * its magnitude is a fraction of the raw vector's, so the same
  * codebook budget buys far less quantization error (the FAISS
  * IVF-PQ construction). Elementwise over min(dims); an unknown cell
  * (impossible for cells produced by graft_argmax_cell over the same
  * table) passes the vector through unchanged. */
case class CellResidual(vec: Expression, cell: Expression, cents: Expression)
  extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cell
  override def third: Expression = cents
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_cell_residual"
  override def nullable: Boolean = true

  @transient private lazy val table = new CentroidTable(cents)

  def residual(v: ArrayData, cell: Long): ArrayData = {
    val x = v.toDoubleArray()
    val c = table.cv(cell)
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      out(i) = if (i < c.length) x(i) - c(i) else x(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any, cell: Any, c: Any): Any =
    residual(v.asInstanceOf[ArrayData], cell.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("residualImpl", this, classOf[CellResidual].getName)
    nullSafeCodeGen(ctx, ev, (v, cell, _) => s"${ev.value} = $ref.residual($v, $cell);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CellResidual =
    copy(vec = newFirst, cell = newSecond, cents = newThird)
}

/** `graft_cell_add(vec, cell, cents)` — `vec + centroid(cell)`: the
  * reconstruction side of residual PQ (centroid + decoded residual).
  * Exact inverse shape of [[CellResidual]] — NOT computed as
  * `v - (v - μ)` anywhere, which would not be IEEE-exact. */
case class CellAdd(vec: Expression, cell: Expression, cents: Expression)
  extends TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = cell
  override def third: Expression = cents
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_cell_add"
  override def nullable: Boolean = true

  @transient private lazy val table = new CentroidTable(cents)

  def add(v: ArrayData, cell: Long): ArrayData = {
    val x = v.toDoubleArray()
    val c = table.cv(cell)
    val out = new Array[Double](x.length)
    var i = 0
    while (i < x.length) {
      out(i) = if (i < c.length) x(i) + c(i) else x(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any, cell: Any, c: Any): Any =
    add(v.asInstanceOf[ArrayData], cell.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cellAddImpl", this, classOf[CellAdd].getName)
    nullSafeCodeGen(ctx, ev, (v, cell, _) => s"${ev.value} = $ref.add($v, $cell);")
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): CellAdd =
    copy(vec = newFirst, cell = newSecond, cents = newThird)
}

/** `graft_pq_decode(codes, codebook)` — reconstruct the quantized
  * vector from its M codes: each subspace's codeword, concatenated in
  * subspace order. The ADC (asymmetric distance computation) scoring
  * path dots the EXACT query against this reconstruction — the scan
  * side touches only the codes and the shared codebook. A code absent
  * from the codebook (impossible for codes produced by
  * graft_pq_encode over the same codebook) reconstructs as zeros,
  * keeping the expression total. */
case class PqDecode(codesExpr: Expression, cb: Expression)
  extends BinaryExpression {

  override def left: Expression = codesExpr
  override def right: Expression = cb
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_decode"
  override def nullable: Boolean = true

  @transient private lazy val table = new PqCodebookTable(cb)

  def decode(codesIn: ArrayData): ArrayData = {
    val nM = table.codes.length
    val out = new Array[Double](table.totalDim)
    val n = math.min(nM, codesIn.numElements())
    var m = 0
    while (m < n) {
      val code = codesIn.getLong(m)
      val cs = table.codes(m)
      val idx = java.util.Arrays.binarySearch(cs, code)
      if (idx >= 0) {
        val cv = table.cvs(m)(idx)
        System.arraycopy(cv, 0, out, table.offsets(m), cv.length)
      }
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(codesIn: Any, c: Any): Any =
    decode(codesIn.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqDecoder", this, classOf[PqDecode].getName)
    nullSafeCodeGen(ctx, ev, (v, _) => s"${ev.value} = $ref.decode($v);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqDecode =
    copy(codesExpr = newLeft, cb = newRight)
}

/** Intersection COUNT of two SORTED long arrays — the band-verify hot
  * path (near-dup Jaccard / containment score thousands of candidate
  * pairs per doc on a replica-heavy corpus). `array_intersect` builds
  * a hash set AND materializes the intersection array per pair when
  * only its SIZE is consumed; this is the allocation-free two-pointer
  * merge over primitives instead. CONTRACT: both inputs must be
  * sorted ascending with no duplicates (callers use
  * `sort_array(array_distinct(...))`, paid once per DOC, amortized
  * over every candidate PAIR the doc appears in); null array → null,
  * null elements are not expected (token hashes are non-null). */
case class SortedIntersectCount(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_sorted_inter_count"
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    val m = y.numElements()
    var i = 0; var j = 0; var c = 0L
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val m = ctx.freshName("m")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $a.numElements();
         |int $m = $b.numElements();
         |int $i = 0; int $j = 0; long $c = 0L;
         |while ($i < $n && $j < $m) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {
  val dotInfo = (
    new FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => DotProduct(children(0), children(1)))

  val normInfo = (
    new FunctionIdentifier("graft_l2norm"),
    new ExpressionInfo(classOf[L2Norm].getName, "graft_l2norm"),
    (children: Seq[Expression]) => L2Norm(children.head))

  val lshInfo = (
    new FunctionIdentifier("graft_lsh_sig"),
    new ExpressionInfo(classOf[LshSignature].getName, "graft_lsh_sig"),
    (children: Seq[Expression]) => LshSignature(children.head))

  val simhashInfo = (
    new FunctionIdentifier("graft_simhash_fold"),
    new ExpressionInfo(classOf[SimhashFold].getName, "graft_simhash_fold"),
    (children: Seq[Expression]) => SimhashFold(children.head))

  val minhashInfo = (
    new FunctionIdentifier("graft_minhash_sig"),
    new ExpressionInfo(classOf[MinhashSignature].getName, "graft_minhash_sig"),
    (children: Seq[Expression]) => MinhashSignature(children.head))

  val argmaxInfo = (
    new FunctionIdentifier("graft_argmax_cell"),
    new ExpressionInfo(classOf[CentroidArgmax].getName, "graft_argmax_cell"),
    (children: Seq[Expression]) => CentroidArgmax(children(0), children(1), children(2)))

  val pqEncodeInfo = (
    new FunctionIdentifier("graft_pq_encode"),
    new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
    (children: Seq[Expression]) => PqEncode(children(0), children(1)))

  val pqDecodeInfo = (
    new FunctionIdentifier("graft_pq_decode"),
    new ExpressionInfo(classOf[PqDecode].getName, "graft_pq_decode"),
    (children: Seq[Expression]) => PqDecode(children(0), children(1)))

  val cellResidualInfo = (
    new FunctionIdentifier("graft_cell_residual"),
    new ExpressionInfo(classOf[CellResidual].getName, "graft_cell_residual"),
    (children: Seq[Expression]) => CellResidual(children(0), children(1), children(2)))

  val cellAddInfo = (
    new FunctionIdentifier("graft_cell_add"),
    new ExpressionInfo(classOf[CellAdd].getName, "graft_cell_add"),
    (children: Seq[Expression]) => CellAdd(children(0), children(1), children(2)))

  val sortedInterInfo = (
    new FunctionIdentifier("graft_sorted_inter_count"),
    new ExpressionInfo(classOf[SortedIntersectCount].getName, "graft_sorted_inter_count"),
    (children: Seq[Expression]) => SortedIntersectCount(children(0), children(1)))

  /** Every native function the engine defines, once. Both
    * registration paths iterate this list: [[graft.plans.GraftExtensions]]
    * injects it at session build, and [[register]] adds it to a session
    * built without the extension. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    dotInfo, normInfo, lshInfo, simhashInfo, minhashInfo, argmaxInfo,
    pqEncodeInfo, pqDecodeInfo, cellResidualInfo, cellAddInfo, sortedInterInfo,
    SketchFunctions.mightContainInfo, BpeFunctions.bpeCountInfo, BpeFunctions.bpePiecesInfo)

  /** Imperative session-scoped registration — lets any session use the
    * functions even when it wasn't built with GraftExtensions. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
  }
}
