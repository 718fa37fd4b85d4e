package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}

/** Registration shim for Spark's own codegen'd
  * [[BloomFilterMightContain]] (the predicate the optimizer's
  * InjectRuntimeFilter plants): `graft_bloom_might_contain(filter,
  * key)` with `filter` a foldable binary literal in
  * `org.apache.spark.util.sketch.BloomFilter` serialized form — the
  * same bytes `DataFrame.stat.bloomFilter(...).writeTo` produces.
  * Exposing it as a function lets a pipeline author hand-plant a
  * pre-shuffle row filter when the optimizer's size heuristics
  * wouldn't inject one (see Joins.bloomPrunedJoin). Registered with
  * the rest of the native functions ([[VectorFunctions.all]]). */
object SketchFunctions {

  val mightContainInfo = (
    new FunctionIdentifier("graft_bloom_might_contain"),
    new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_bloom_might_contain"),
    (children: Seq[Expression]) => BloomFilterMightContain(children(0), children(1)))
}
