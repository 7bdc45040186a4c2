package graft.algo

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

final case class HitsConfig(maxIterations: Int = 20, numPartitions: Option[Int] = None)

/** HITS hubs & authorities (reference: alpha/alpha-proc/src/main/java/org/
  * neo4j/gds/pregel/Hits.java — a Pregel computation alternating
  * auth(v) = Σ hub(u) over in-edges and hub(u) = Σ auth(v) over out-edges,
  * each L2-normalized per half-step).
  *
  * HITS is LINEAR: per-half-step L2 normalization is a positive common
  * scaling, so normalizing once at the end yields the identical vectors the
  * reference's per-half-step normalization produces (same direction, same
  * final unit norm). The supersteps therefore run UNNORMALIZED — two
  * co-partitioned join + shuffle-agg passes per iteration, the same
  * fully-fusable shape as PageRank, with no per-half-step broadcast
  * subquery jobs (the round-2 form paid two of those per iteration: each
  * re-ran a multi-stage subtree, tripling the per-iteration job count).
  * A periodic in-plan rescale (`RescaleEvery`) guards overflow at scale;
  * the final normalization is two scalars off the loop's cached state.
  * Returns (id, hub, auth) with both columns L2-normalized.
  */
object Hits {

  /** Iterations chained lazily per driver action (see
    * [[graft.pregel.LoopConfig.fusedSteps]]). HITS runs a FIXED iteration
    * count (no convergence check), so fusing loses nothing. */
  private val FusedSteps = 5

  /** Overflow guard: every this many iterations the unnormalized scores are
    * divided (in-plan, one broadcast scalar) by the auth L2. Pure common
    * scaling — the final normalization absorbs it — but it bounds magnitude
    * growth to ||A||^(2N) between rescales, which keeps a hub-degree-1e6 web
    * graph far from double overflow. */
  private val RescaleEvery = 4

  def run(graph: PropertyGraph, cfg: HitsConfig = HitsConfig()): DataFrame = {
    val spark = graph.edges.sparkSession
    // Size every shuffle in the run to the edge count (floor 2, session
    // cap): on a small (sub)graph, full-width fan-out pays 32 contending
    // near-empty tasks per stage; at web scale this IS the session width.
    val parts = cfg.numPartitions.getOrElse(
      GraphOps.adaptiveParts(spark, graph.edges.count()))
    GraphOps.withShuffleWidth(spark, parts) {
    // Two persisted orientations: the auth step joins on src, the hub step
    // on dst — co-partitioned joins both ways instead of re-shuffling the
    // edge table every half-iteration (the 100-TB shape: edge storage is
    // cheap next to 20x2 repeated shuffles of it).
    val edges = SuperstepLoop.persistInput(graph.edges.select("src", "dst"), parts, "src")
    val edgesByDst = SuperstepLoop.persistInput(graph.edges.select("src", "dst"), parts, "dst")

    val init = graph.vertices.select("id")
      .repartition(parts, col("id"))
      .select(col("id"), lit(1.0).as("hub"), lit(1.0).as("auth"),
        lit(true).as(SuperstepLoop.ActiveCol))

    val result = SuperstepLoop.run(init, LoopConfig(cfg.maxIterations, fusedSteps = FusedSteps)) {
      (state, iter) =>
        val next = hubStep(edgesByDst)(authStep(edges)(state))
        if (iter % RescaleEvery == 0) {
          // overflow guard: common positive scale, absorbed by the final
          // normalization (broadcast 1-row scalar, once per RescaleEvery)
          val l2 = next.agg(sqrt(sum(col("auth") * col("auth"))).as("__l2"))
            .select(when(col("__l2") === 0.0, lit(1.0)).otherwise(col("__l2")).as("__l2"))
          next.crossJoin(broadcast(l2))
            .select(col("id"), (col("hub") / col("__l2")).as("hub"),
              (col("auth") / col("__l2")).as("auth"),
              lit(true).as(SuperstepLoop.ActiveCol))
        } else next
    }
    edges.unpersist(false)
    edgesByDst.unpersist(false)
    // Final normalization: two scalars off the loop's cached state (one tiny
    // job), embedded as literals — no broadcast subquery needed.
    val norms = result.state.agg(
      sqrt(sum(col("hub") * col("hub"))).as("l2h"),
      sqrt(sum(col("auth") * col("auth"))).as("l2a")).first()
    def nz(x: Double): Double = if (x == 0.0 || x.isNaN) 1.0 else x
    val (l2h, l2a) =
      if (norms.isNullAt(0) || norms.isNullAt(1)) (1.0, 1.0)
      else (nz(norms.getDouble(0)), nz(norms.getDouble(1)))
    result.state.select(col("id"),
      (col("hub") / lit(l2h)).as("hub"),
      (col("auth") / lit(l2a)).as("auth"))
    }
  }

  /** auth(v) = Σ hub(u) for u→v, unnormalized: `state` (id, hub, …) gathers
    * along the src-partitioned `edges`; returns (id, hub, auth). */
  private[graft] def authStep(edges: DataFrame)(state: DataFrame): DataFrame = {
    val hubs = state.select("id", "hub")
    SuperstepLoop.joinBack(hubs, SuperstepLoop.gather(hubs, edges, col("hub"), sum("hub").as("a")))
      .select(col("id"), col("hub"), coalesce(col("a"), lit(0.0)).as("auth"))
  }

  /** hub(u) = Σ auth(v) for u→v, unnormalized: `state` (id, auth, …) gathers
    * back along the dst-partitioned `edgesByDst`; returns (id, hub, auth, _active). */
  private[graft] def hubStep(edgesByDst: DataFrame)(state: DataFrame): DataFrame = {
    val auths = state.select("id", "auth")
    SuperstepLoop.joinBack(auths, SuperstepLoop.gather(auths, edgesByDst, col("auth"),
        sum("auth").as("h"), from = "dst", to = "src"))
      .select(col("id"), coalesce(col("h"), lit(0.0)).as("hub"), col("auth"),
        lit(true).as(SuperstepLoop.ActiveCol))
  }
}
