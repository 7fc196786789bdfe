package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge to Spark's `private[sql]` Dataset factory so the engine can wrap
  * a custom LogicalPlan (graft.plans.TopKPerKey) as a DataFrame. Lives in
  * a subpackage of org.apache.spark.sql purely for access; contains no
  * Spark-internal logic of its own.
  */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** [[ofRows]] for a plan that is already resolved and checked: marks it
    * analyzed, so the analyzer hands it back untouched instead of running
    * its rule batches again (graft.pipeline.OohPipeline re-binds one
    * analyzed projection to each new scan).
    */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    ofRows(spark, plan)
  }

  /** Column ↔ Expression bridging (Spark 4's Column wraps a ColumnNode, so
    * direct construction from a Catalyst Expression goes through the
    * `private[sql]` ExpressionUtils). Used to drive Spark's own
    * internally-registered expressions (BloomFilterAggregate /
    * BloomFilterMightContain) from the Column API.
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Bridge to the `private[sql]` session clone: an isolated copy of the
    * session (own SQLConf, shared SparkContext/state). Lets an operator
    * scope a conf flip — constraint propagation off for a checkpoint loop,
    * a raised Bloom build limit — to its OWN plans instead of mutating the
    * caller's session, where concurrently-planned unrelated queries would
    * see the flip.
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
