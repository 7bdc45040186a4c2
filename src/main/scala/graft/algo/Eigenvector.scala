package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** Eigenvector centrality — GDS-exact power iteration on (A + I) with
  * per-iteration L2 normalization (reference: algo/src/main/java/org/neo4j/
  * gds/pagerank/EigenvectorComputation.java:40-175):
  *
  *  - init rank = 1/|V| (personalized: 1/|sources| on sources, 0 elsewhere)
  *  - superstep: next = normalizedRank + Σ messages; every node sends
  *    next / weightedDegree (unweighted: /1 — degrees are NOT respected)
  *  - masterCompute: rank = next / ||next||₂; converged when
  *    max |rank - prevRank| <= tolerance (never on the initial superstep)
  *  - messages carry the UNNORMALIZED next value (sends happen before the
  *    master normalization step)
  *
  * One message shuffle per superstep. The masterCompute L2 scalar is a
  * 1-row aggregate BROADCAST back into the same superstep plan (no driver
  * `.first()` round-trip per iteration — that per-superstep driver sync was
  * the round-1 scaling bottleneck; the broadcast exchange runs inside the
  * superstep's own job).
  */
object Eigenvector {

  def run(graph: PropertyGraph, cfg: PageRankConfig): PageRankResult = {
    val spark = graph.edges.sparkSession
    val parts = cfg.numPartitions.getOrElse(
      GraphOps.adaptiveParts(spark, graph.edges.count()))
    GraphOps.withShuffleWidth(spark, parts) {

    val vertices  = graph.vertices.select("id")
    val nodeCount = vertices.count()
    val edgesW    = GraphOps.withWeight(graph.edges)

    // Weighted: message = next * weight / weightedDegree(src); unweighted: next.
    val msgEdges = SuperstepLoop.persistInput(if (cfg.weighted) {
      val wdeg = edgesW.groupBy("src").agg(sum("weight").as("wdeg"))
      edgesW.join(wdeg, "src").filter(col("wdeg") > 0.0)
        .select(col("src"), col("dst"), (col("weight") / col("wdeg")).as("norm"))
    } else {
      edgesW.select(col("src"), col("dst"), lit(1.0).as("norm"))
    }, parts, "src")

    val initValue =
      if (cfg.sourceNodes.isEmpty) 1.0 / nodeCount else 1.0 / cfg.sourceNodes.size
    val initCol =
      if (cfg.sourceNodes.isEmpty) lit(initValue)
      else when(col("id").isInCollection(cfg.sourceNodes), lit(initValue)).otherwise(lit(0.0))

    // state_0 = after superstep 0 + master step: rank normalized, next raw.
    // (one-time driver scalar — NOT per superstep)
    val init0 = vertices.repartition(parts, col("id"))
      .select(col("id"), initCol.as("next"))
    val l2init = init0.agg(sqrt(sum(col("next") * col("next")))).first().getDouble(0)
    val init = init0.select(col("id"),
        (col("next") / lit(if (l2init == 0.0) 1.0 else l2init)).as("rank"),
        col("next"), lit(true).as(SuperstepLoop.ActiveCol))

    // The step is fixpoint-stable (a converged rank reproduces itself within
    // tolerance), and at tolerance=0 the run is fixed-iteration — so fusing
    // supersteps (one multi-stage job per batch, no per-superstep persist +
    // driver sync) changes nothing semantically there. The per-superstep L2
    // is an in-plan broadcast, so it chains lazily like the rest of the step.
    val loopCfg = LoopConfig(cfg.maxIterations - 1, cfg.checkpointDir, cfg.checkpointInterval,
      fusedSteps = cfg.fusedSteps)
    val result = SuperstepLoop.run(init, loopCfg)((state, _) => step(msgEdges, cfg.tolerance)(state))
    msgEdges.unpersist(false)

    val scores = Scaler.apply(cfg.scaler,
      result.state.select(col("id"), col("rank").as("score")), "score")
    PageRankResult(
      scores,
      if (result.didConverge) result.ranIterations else cfg.maxIterations,
      result.didConverge)
    }
  }

  /** One power-iteration superstep over `state` (id, rank, next, _active):
    * every vertex sends `next * norm` along the src-partitioned `msgEdges`
    * through the superstep kernel, and `next` becomes rank + Σ messages.
    * masterCompute: the L2 norm as a broadcast 1-row aggregate joined back
    * in-plan (explicit hint — the loop conf only disables AUTO broadcasts).
    * The raw subtree is evaluated twice within the job (once for the scalar,
    * once for the update); both read the inbox aggregation's shuffle files,
    * nothing upstream is recomputed. */
  private[graft] def step(msgEdges: DataFrame, tolerance: Double)(state: DataFrame): DataFrame = {
    val inbox = SuperstepLoop.gather(state.select("id", "next"), msgEdges,
      (col("next") * col("norm")).as("msg"), sum("msg").as("msum"))
    val raw = SuperstepLoop.joinBack(state.select("id", "rank"), inbox)
      .select(col("id"), col("rank"),
        (col("rank") + coalesce(col("msum"), lit(0.0))).as("next"))
    val l2 = raw.agg(sqrt(sum(col("next") * col("next"))).as("__l2"))
      .select(when(col("__l2") === 0.0, lit(1.0)).otherwise(col("__l2")).as("__l2"))
    raw.crossJoin(broadcast(l2))
      .select(col("id"), (col("next") / col("__l2")).as("newRank"),
        col("next"), col("rank"))
      .select(col("id"), col("newRank").as("rank"), col("next"),
        (abs(col("newRank") - col("rank")) > lit(tolerance)).as(SuperstepLoop.ActiveCol))
  }
}
