package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection}

/** Lineage-truncation helper for iterative DataFrame jobs.
  *
  * Iterative jobs accumulate one join-agg layer of LOGICAL plan per
  * superstep; re-analysis/optimization cost then grows with iteration count
  * even though the data is cached. Rewrapping the already-persisted physical
  * output (`queryExecution.toRdd`) as a fresh DataFrame resets the logical
  * plan to a single leaf at zero data cost — the wrapped RDD still reads the
  * in-memory cache. (`Dataset.checkpoint`/`localCheckpoint` achieve the same
  * truncation but copy the data; we reserve those for durable snapshots and
  * periodic RDD-lineage cuts.)
  */
object GraftSqlCompat {
  /** Bridge for registering custom Catalyst expressions as Columns (the
    * Column(expr) constructor is no longer public in Spark 4's split API). */
  def toColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  def toExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** New DataFrame over df's physical rows with a depth-1 logical plan.
    * The input should be persisted and materialized: the wrapper re-executes
    * its physical plan on access, which is then a cache read.
    * The wrapper carries the physical output partitioning and ordering
    * across the rewrap — essential so the next superstep's joins still see
    * the state hash-partitioned by id and skip their exchanges. A
    * projection that aliases `id` (`id AS comp`) reports a collection of
    * equivalent partitionings; `LogicalRDD.fromDataset` keeps only its first
    * member, so the member on `id` is put back when there is one. */
  def truncatePlan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val ds    = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]]
    val rdd   = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      ds.queryExecution.toRdd, ds, isStreaming = false)
    val logical = idPartitioning(ds.queryExecution.executedPlan.outputPartitioning) match {
      case Some(p) if p != rdd.outputPartitioning =>
        // outputPartitioning is the third constructor argument; makeCopy
        // carries the session, statistics and constraints over
        rdd.makeCopy(rdd.productIterator.zipWithIndex.map {
          case (_, 2) => p
          case (arg, _) => arg.asInstanceOf[AnyRef]
        }.toArray)
      case _ => rdd
    }
    org.apache.spark.sql.classic.Dataset.ofRows(spark, logical)
  }

  /** The member of a partitioning collection that hashes on `id` alone. */
  private def idPartitioning(p: Partitioning): Option[Partitioning] = p match {
    case h @ HashPartitioning(Seq(a: Attribute), _) if a.name == "id" => Some(h)
    case c: PartitioningCollection => c.partitionings.iterator.flatMap(idPartitioning).nextOption()
    case _ => None
  }
}
