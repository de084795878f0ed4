package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 made the Column ↔ catalyst Expression bridge
  * (`classic.ExpressionUtils`) private[sql]; custom Expressions
  * (graft.rag.DotProduct) need it, so this shim lives in the sql
  * package — the standard pattern for Catalyst extensions compiled
  * against the classic runtime.
  */
object GraftExprBridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** a DataFrame over a logical plan (`Dataset.ofRows` is private[sql]) */
  def ofRows(spark: SparkSession, plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Run `f`, which starts jobs straight on the SparkContext, under
    * the session's job artifact state, as the jobs of a Dataset action
    * run. An executor keys its task class loader by that state, and
    * Spark's codegen cache keys each generated class by the loader of
    * the thread that compiles it: a task of a job started outside it
    * runs under the default state's loader and recompiles every class
    * the session's own tasks already hold.
    */
  def withSessionArtifacts[T](spark: SparkSession)(f: => T): T =
    spark.asInstanceOf[classic.SparkSession].artifactManager.withResources(f)

  /** The exact RDD backing a `localCheckpoint()`ed Dataset (its plan is
    * a LogicalRDD over the checkpointed, persisted RDD). Lets callers
    * unpersist precisely their own checkpoint blocks — a global
    * `sc.getPersistentRDDs` before/after diff would mis-attribute
    * blocks persisted concurrently by other queries.
    */
  def checkpointedRdd(ds: Dataset[_]): Option[org.apache.spark.rdd.RDD[_]] =
    ds.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
