package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal access shim: `Dataset.ofRows` (turning a custom LogicalPlan
  * into a DataFrame), `experimental.extraStrategies` (runtime strategy
  * injection) and the session state's SQL/Hadoop confs are
  * `private[sql]`/classic-only in Spark 4.
  * This is the conventional extension-library technique (a dedicated
  * subpackage of org.apache.spark.sql) — no Spark internals are
  * modified or forked, we only call existing methods.
  */
object GraftShim {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A session sharing `spark`'s context, with a copy of its state. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** The session's runtime-added strategies and optimizer rules. */
  def extraPlanning(spark: SparkSession): (Seq[AnyRef], Seq[AnyRef]) = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    (exp.extraStrategies, exp.extraOptimizations)
  }

  /** Whether Spark runs in its test mode (`spark.testing`), under which
    * some of its rules read their confs differently. */
  def isTesting: Boolean = org.apache.spark.util.Utils.isTesting

  /** The session's SQL conf (what Spark's own readers consult). */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** A Hadoop conf carrying the session's settings, as Spark's file
    * readers build it. */
  def newHadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** Idempotently append a planner strategy to the session. (Benign if
    * the strategy is ALSO injected via GraftExtensions — the planner
    * just sees one extra candidate producer; first plan wins.) */
  def addStrategy(spark: SparkSession, strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy)) {
      exp.extraStrategies = exp.extraStrategies :+ strategy
    }
  }

  /** Idempotently append an optimizer rule to the session. */
  def addOptimization(spark: SparkSession,
                      rule: org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule)) {
      exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
  }

  /** Remove a runtime-added optimizer rule (test/session cleanup). */
  def removeOptimization(spark: SparkSession,
                         rule: org.apache.spark.sql.catalyst.rules.Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    exp.extraOptimizations = exp.extraOptimizations.filterNot(_ == rule)
  }
}
