package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule (AQE only): a global sort whose input
  * measures no more than AQE would coalesce into one partition runs in
  * place, on one task of its input's stage, instead of behind a range
  * exchange.
  *
  * A global `Sort` over `Exchange rangepartitioning(…, n > 1)` costs a
  * `RangePartitioner` sampling job plus a shuffle stage. When the
  * exchange's input has a byte bound at or under [[onePartitionBytes]],
  * the size at which AQE's `CoalesceShufflePartitions` reads that shuffle
  * back as one partition under the session's confs, the exchange is
  * replaced by `Coalesce 1`: the same rows in the same order on the one
  * task AQE would have used, with no sample and no extra stage.
  *
  * The bound comes from a materialized query stage's runtime size, or
  * from the relation size of a file scan that already reads one split
  * (so `Coalesce 1` never serializes a scan Spark would spread over
  * tasks), carried up through unary operators that never add rows
  * ([[bound]]). Joins, Generate, Expand, Union, RDD and DSv2 scans give
  * none, and their sorts keep the exchange. A rewrite that fails Spark's
  * `ValidateRequirements` (a sort whose range partitioning a
  * co-partitioned parent relies on) is dropped whole, and an explicit
  * `repartitionByRange` (any origin but ENSURE_REQUIREMENTS) is never
  * touched. AQE re-runs the rule at each re-optimization, so a sort
  * above an aggregate fires once the aggregate's input stage has run.
  * Without AQE, and in streaming micro-batches, it never runs.
  */
case class TinySort(session: SparkSession) extends Rule[SparkPlan] {

  /** The confs of the session the rule was built for, as AQE's own
    * coalescing rule reads them. */
  override def conf: SQLConf = GraftShim.sqlConf(session)

  override def apply(plan: SparkPlan): SparkPlan = onePartitionBytes match {
    case None => plan
    case Some(limit) =>
      val rewritten = plan.transformUp {
        case s @ SortExec(_, true, ShuffleExchangeExec(RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _), _)
            if n > 1 && bound(child).exists(_ <= limit) =>
          s.withNewChildren(Seq(CoalesceExec(1, child)))
      }
      if ((rewritten ne plan) && ValidateRequirements.validate(rewritten)) rewritten else plan
  }

  /** The largest shuffle, in bytes, that `CoalesceShufflePartitions`
    * surely reads as one partition, or none when it does not coalesce.
    * AQE targets `max(min(advisory, total / minPartitionNum),
    * minPartitionSize)` bytes per partition, where `minPartitionNum`
    * defaults to the default parallelism under `parallelismFirst` (its
    * default) and to 1 otherwise. With more than one minimum partition a
    * shuffle becomes one partition only at or under `minPartitionSize`
    * (1 MB by default); with one, at or under the larger of the two
    * sizes. Under Spark's test mode AQE caps `minPartitionSize` at a
    * fifth of the advisory size, and so does this. */
  private[graft] def onePartitionBytes: Option[Long] =
    Option.when(conf.coalesceShufflePartitionsEnabled) {
      val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val configured = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
      val minSize = if (GraftShim.isTesting) configured.min(advisory / 5) else configured
      val minNum = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).getOrElse {
        if (conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST)) session.sparkContext.defaultParallelism
        else 1
      }
      if (minNum <= 1) advisory.max(minSize) else minSize
    }

  /** An upper bound in bytes on what `p` outputs, if one is known: a
    * materialized stage's runtime size or a one-split file relation's
    * size, through operators that never add rows. An operator that
    * widens rows scales the bound by its output-to-input row width. */
  private def bound(p: SparkPlan): Option[BigInt] = p match {
    case s: QueryStageExec => Option.when(s.isMaterialized)(s.getRuntimeStatistics.sizeInBytes)
    case s: FileSourceScanExec => Option.when(oneSplit(s))(BigInt(s.relation.sizeInBytes))
    case _: FilterExec | _: ProjectExec | _: SortExec | _: WindowExec | _: WindowGroupLimitExec |
         _: BaseAggregateExec | _: AQEShuffleReadExec | _: ColumnarToRowExec | _: RowToColumnarExec =>
      val child = p.children.head
      val in = EstimationUtils.getSizePerRow(child.output)
      val out = EstimationUtils.getSizePerRow(p.output)
      bound(child).map(b => if (out > in) (b * out + in - 1) / in else b)
    case _ => None
  }

  /** The scan reads at most one file, no larger than any split size
    * Spark picks (at least `min(maxPartitionBytes, openCostInBytes)`),
    * so it runs as one task whatever sits above it. */
  private def oneSplit(s: FileSourceScanExec): Boolean =
    s.relation.location.sizeInBytes <= conf.filesMaxPartitionBytes.min(conf.filesOpenCostInBytes) &&
      s.relation.location.inputFiles.length <= 1
}
