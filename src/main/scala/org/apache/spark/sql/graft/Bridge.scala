package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these converters
  * private[sql]; extension libraries conventionally expose them from a
  * file in the org.apache.spark.sql namespace (same pattern public
  * Spark-extension projects use for Dataset/Column factories). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def ofRows(spark: org.apache.spark.sql.SparkSession,
    plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** For a just-(local)checkpointed Dataset — whose analyzed plan is a
    * LogicalRDD over the materialized, block-manager-cached internal
    * RDD — or a persisted one whose cache is already built, the cached
    * byte size (memory + disk) and partition count. None when neither
    * holds, the blocks aren't tracked (e.g. a reliable checkpoint,
    * which writes files instead) or some partition is no longer
    * cached — the bytes of a partially evicted frame would under-count
    * it. Sized from the block manager master, which every block put or
    * removal reports to synchronously (the UI status store lags behind
    * on the listener bus). A metadata lookup only; never runs a job. */
  def cachedSize(df: org.apache.spark.sql.DataFrame): Option[(Long, Int)] = {
    val rdd = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ =>
        val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
          .map(_.cachedRepresentation.cacheBuilder)
          .filter(_.isCachedColumnBuffersLoaded).map(_.cachedColumnBuffers)
    }
    rdd.flatMap { r =>
      val (id, n) = (r.id, r.getNumPartitions)
      val blocks = org.apache.spark.SparkEnv.get.blockManager.master
        .getStorageStatus.toSeq.flatMap(_.rddBlocks).collect {
          case (org.apache.spark.storage.RDDBlockId(`id`, p), b) if b.isCached =>
            (p, b.memSize + b.diskSize)
        }
      if (blocks.map(_._1).distinct.size == n) Some((blocks.map(_._2).sum, n))
      else None
    }
  }
}
