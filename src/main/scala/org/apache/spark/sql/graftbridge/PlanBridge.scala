package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.QueryExecution

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

  /** [[ofAnalyzed]] whose QueryExecution also takes `optimized` as its
    * optimized plan instead of running the optimizer: physical planning,
    * codegen and the job read it as they read an optimized plan (both
    * `assertOptimized` and `sparkPlan` go through `optimizedPlan`). The
    * caller guarantees that `optimized` is what the optimizer makes of
    * `analyzed` in this session when nothing is cached
    * (graft.pipeline.OohPipeline re-binds one optimized plan to each new
    * scan). If something has been cached by the time the plan is first
    * needed, it is optimized as usual, so cached data is still read.
    */
  def ofPrepared(spark: SparkSession, analyzed: LogicalPlan, optimized: LogicalPlan): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    analyzed.setAnalyzed()
    optimized.setAnalyzed()
    val qe = new QueryExecution(session, analyzed, shuffleCleanupMode =
        QueryExecution.determineShuffleCleanupMode(session.sessionState.conf)) {
      override lazy val optimizedPlan: LogicalPlan =
        if (cacheIsEmpty(session)) optimized else super.optimizedPlan
    }
    session.withActive(new classic.Dataset[Row](qe, () => RowEncoder.encoderFor(analyzed.schema)))
  }

  /** Whether the session's cache manager holds no cached plan. */
  def cacheIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

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
