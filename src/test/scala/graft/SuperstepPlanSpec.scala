package graft

import org.apache.spark.sql.{DataFrame, GraftSqlCompat}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algo.{LabelPropagation, PageRank, PageRankConfig, Schedule, Wcc}
import graft.pregel.SuperstepLoop

/** Physical shape of one PageRank, WCC and LP superstep, planned under the
  * loop's conf over state as the loop hands it to a step (persisted,
  * plan-truncated, hash-partitioned by id) and edge tables persisted and
  * partitioned the way the algorithms build them. Each superstep must hash
  * its joins (no sort-merge join re-sorting the edge table every superstep)
  * and shuffle exactly once. */
class SuperstepPlanSpec extends AnyFunSuite with SparkTestBase {

  private val parts = 3

  private val edgeList: Seq[(Long, Long)] = Seq(
    0L -> 1L, 1L -> 2L, 2L -> 0L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 3L, 6L -> 0L)

  private def persisted(df: DataFrame, key: String): DataFrame = {
    val p = df.repartition(parts, col(key)).persist()
    p.count()
    p
  }

  private def loopState(df: DataFrame): DataFrame =
    GraftSqlCompat.truncatePlan(persisted(df, "id"))

  private def edges: DataFrame = {
    import spark.implicits._
    edgeList.toDF("src", "dst")
  }

  private def vertices: DataFrame = spark.range(7).toDF("id")

  private def plannedStep(step: => DataFrame): SparkPlan =
    SuperstepLoop.withIterationConf(spark, width = Some(parts)) {
      step.queryExecution.executedPlan
    }

  private def assertShape(name: String, plan: SparkPlan): Unit = {
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(smj.isEmpty, s"$name superstep sorts for a join:\n$plan")
    assert(exchanges.size == 1,
      s"$name superstep has ${exchanges.size} exchanges, expected 1:\n$plan")
  }

  test("PageRank superstep: hash join on the state, one exchange") {
    val deg = edges.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
    val augEdges = persisted(
      edges.join(deg, "src").select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("norm"))
        .unionByName(vertices.select(col("id").as("src"), col("id").as("dst"),
          lit(null).cast("double").as("norm"))),
      "src")
    val state = loopState(vertices.select(col("id"), lit(0.15).as("rank"),
      lit(0.15).as("delta"), lit(true).as(SuperstepLoop.ActiveCol)))
    assertShape("PageRank", plannedStep(
      PageRank.step(augEdges, None, PageRankConfig(), 1.0)(state, 1)))
    augEdges.unpersist(false)
  }

  test("WCC superstep: hash joins on the frontier and the minimum, one exchange") {
    val undirected = persisted(
      edges.unionByName(edges.select(col("dst").as("src"), col("src").as("dst"))), "src")
    val state = loopState(vertices.select(col("id"), col("id").as("comp"),
      lit(true).as(SuperstepLoop.ActiveCol)))
    assertShape("WCC", plannedStep(Wcc.step(undirected)(state)))
    undirected.unpersist(false)
  }

  test("LP superstep: hash joins on the labels and the votes, one exchange") {
    val weighted = persisted(edges.withColumn("weight", lit(1.0)), "dst")
    val state = loopState(vertices.select(col("id"), col("id").as("label"),
      lit(true).as(SuperstepLoop.ActiveCol)))
    for (schedule <- Seq(Schedule.Sync, Schedule.FullSync))
      assertShape(s"LP $schedule", plannedStep(
        LabelPropagation.syncStep(weighted, schedule, parts)(state, 1)))
    weighted.unpersist(false)
  }
}
