package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** GDS-exact PageRank configuration (reference: algo/src/main/java/org/neo4j/
  * gds/pagerank/PageRankConfig.java:46-61 — damping 0.85, tolerance 1e-7,
  * maxIterations 20; sourceNodes = personalization).
  *
  * @param hubThreshold when set, sources with (weighted) out-degree >= this
  *                     are treated as hubs: their adjacency is removed from
  *                     the co-partitioned edge table (where one hub's edges
  *                     all land in a single task) and joined map-side against
  *                     a BROADCAST of the tiny hub frontier instead — the
  *                     north rule's skew answer for power-law web graphs.
  * @param fusedSteps   supersteps chained lazily per driver action (see
  *                     [[graft.pregel.LoopConfig.fusedSteps]]); >1 trades
  *                     exact convergence-detection granularity for the
  *                     removal of all per-superstep driver latency.
  */
final case class PageRankConfig(
  dampingFactor: Double = 0.85,
  tolerance: Double = 1e-7,
  maxIterations: Int = 20,
  weighted: Boolean = false,
  sourceNodes: Seq[Long] = Seq.empty,
  scaler: Scaler = Scaler.NoScaler,
  checkpointDir: Option[String] = None,
  checkpointInterval: Int = 1,
  numPartitions: Option[Int] = None,
  hubThreshold: Option[Double] = None,
  fusedSteps: Int = 1)

final case class PageRankResult(scores: DataFrame, ranIterations: Int, didConverge: Boolean)

/** PageRank / ArticleRank as iterative DataFrame jobs.
  *
  * Semantics are byte-for-byte the reference's delta-push Pregel computation
  * (reference: algo/src/main/java/org/neo4j/gds/pagerank/PageRankComputation.java:34-114):
  *
  *  - init rank = 1 - dampingFactor (personalized: sources get it, others 0)
  *  - superstep 0: every node with out-degree > 0 sends delta/degree (delta = rank)
  *  - superstep k: delta = dampingFactor * deltaCoefficient * Σ(messages);
  *    rank += delta; sends only while delta > tolerance
  *  - dangling nodes simply never send: lost mass is NOT redistributed and
  *    scores are NOT normalized (isolated nodes keep exactly 1 - damping;
  *    reference test PageRankTest.java:71-80)
  *  - weighted: message × weight, degree = weighted out-degree
  *    (PageRankComputation.java:110-112, PageRankAlgorithmFactory.java:141-161)
  *
  * Spark execution — ONE shuffle and ONE edge join per superstep. The state
  * never appears twice in a superstep plan: each node's own rank rides a
  * self-loop "carrier" row in the (persisted, src-partitioned) edge table, so
  * a superstep is literally
  *
  *   state ⋈ augEdges (co-partitioned, exchange-free)
  *         → groupBy(id).agg(max(carrier) AS rank, sum(msg) AS msum)
  *         → project new (rank, delta, active)
  *
  * with Catalyst's map-side partial aggregation playing the reference's
  * `Reducer.Sum` message combiner (ReducingMessenger.java:63-97). Because the
  * state's final operator is a projection sitting directly on its aggregation
  * exchange, chaining supersteps lazily (fusedSteps > 1) re-reads shuffle
  * files instead of recomputing anything — the whole run becomes a single
  * multi-stage job with zero per-superstep driver synchronization.
  */
object PageRank {

  def run(graph: PropertyGraph, cfg: PageRankConfig): PageRankResult =
    runInternal(graph, cfg, articleRank = false, resumeRun = false)

  /** ArticleRank: PageRank with degree function deg(n) + avgDegree and
    * deltaCoefficient = avgDegree (reference: PageRankAlgorithmFactory.java:103-108). */
  def articleRank(graph: PropertyGraph, cfg: PageRankConfig): PageRankResult =
    runInternal(graph, cfg, articleRank = true, resumeRun = false)

  /** Resume a checkpointed run from the latest committed snapshot under
    * `cfg.checkpointDir`; falls back to a fresh run when none exists. The
    * final state is identical to an uninterrupted run (supersteps are
    * deterministic pure functions of the previous state). */
  def resume(graph: PropertyGraph, cfg: PageRankConfig): PageRankResult = {
    require(cfg.checkpointDir.isDefined, "resume requires checkpointDir")
    runInternal(graph, cfg, articleRank = false, resumeRun = true)
  }

  private def runInternal(graph: PropertyGraph, cfg: PageRankConfig,
                          articleRank: Boolean, resumeRun: Boolean): PageRankResult = {
    val spark = graph.edges.sparkSession
    // adaptive width (floor 2, session cap): at web scale edges/25k passes
    // the cap and this IS the session width; on a small (sub)graph it stops
    // every superstep stage fanning 32 contending near-empty tasks
    val parts = cfg.numPartitions.getOrElse(
      GraphOps.adaptiveParts(spark, graph.edges.count()))
    GraphOps.withShuffleWidth(spark, parts) {
    val vertices = graph.vertices.select("id")
    val edgesW   = GraphOps.withWeight(graph.edges)

    // Out-degree per source (weighted = sum of weights), computed once.
    val degCol  = if (cfg.weighted) sum(col("weight")) else count(lit(1)).cast("double")
    val degrees = edgesW.groupBy("src").agg(degCol.as("deg"))

    val avgDegree =
      if (articleRank) edgesW.count().toDouble / math.max(1L, vertices.count()).toDouble
      else 0.0
    val deltaCoefficient = if (articleRank) avgDegree else 1.0

    // Fold normalization into the edge table: msg = delta * norm.
    // norm = weight / degree(src) (+ avgDegree for ArticleRank).
    // Sources with degree 0 never send (reference PageRankComputation.java:95-97)
    // — for the weighted case that includes sources whose weights sum to 0.
    val denom = if (articleRank) col("deg") + lit(avgDegree) else col("deg")
    val normEdges = edgesW.join(degrees, "src")
      .filter(col("deg") > lit(0.0))
      .select(col("src"), col("dst"), col("deg"),
        (when(lit(cfg.weighted), col("weight")).otherwise(lit(1.0)) / denom).as("norm"))

    // Hub split: adjacency of super-hub sources leaves the partitioned edge
    // table (one hub's edges otherwise land in a single src-hash partition —
    // a straggler task at power-law scale) and instead joins a broadcast of
    // the hub slice of the state. hubIds is tiny by construction.
    val (mainNormEdges, hubPath) = cfg.hubThreshold match {
      case Some(t) =>
        val hubIds = degrees.filter(col("deg") >= t).select("src").persist()
        val hubEdges = normEdges.filter(col("deg") >= t)
          .select("src", "dst", "norm")
          .repartition(parts, col("dst")).persist()
        (normEdges.filter(col("deg") < t), Some((hubIds, hubEdges)))
      case None => (normEdges, None)
    }

    val augEdges = augmentedEdges(mainNormEdges, vertices, parts)
    val init = initState(augEdges, cfg)

    val loopCfg = LoopConfig(
      maxSteps = cfg.maxIterations - 1,
      checkpointDir = cfg.checkpointDir,
      checkpointInterval = cfg.checkpointInterval,
      fusedSteps = cfg.fusedSteps)

    val stepFn = step(augEdges, hubPath, cfg, deltaCoefficient) _
    val result =
      if (resumeRun) SuperstepLoop.resume(spark, init, loopCfg)(stepFn)
      else SuperstepLoop.run(init, loopCfg)(stepFn)

    augEdges.unpersist(false)
    hubPath.foreach { case (ids, es) => ids.unpersist(false); es.unpersist(false) }
    val scores = Scaler.apply(cfg.scaler,
      result.state.select(col("id"), col("rank").as("score")), "score")
    PageRankResult(
      scores,
      if (result.didConverge) result.ranIterations else cfg.maxIterations,
      result.didConverge)
    }
  }

  /** One persisted, src-partitioned table carrying BOTH the real messages
    * (norm != null) and the per-node self-loop carrier rows (norm == null);
    * the carrier row is what moves a node's own rank through the single
    * superstep aggregation. */
  private[graft] def augmentedEdges(normEdges: DataFrame, vertices: DataFrame,
                                    parts: Int): DataFrame =
    SuperstepLoop.persistInput(
      normEdges.select(col("src"), col("dst"), col("norm"))
        .unionByName(vertices.select(col("id").as("src"), col("id").as("dst"),
          lit(null).cast("double").as("norm"))),
      parts, "src")

  /** Initial state (superstep 0): everyone is "active" — the reference's
    * initial superstep sends unconditionally and nobody votes to halt
    * (PageRankComputation.java:94-98, ComputeStep.java:85-101). One row per
    * carrier row of `augEdges`, so it inherits that table's src
    * partitioning as `hashpartitioning(id)` with no exchange of its own. */
  private[graft] def initState(augEdges: DataFrame, cfg: PageRankConfig): DataFrame = {
    val alpha = 1.0 - cfg.dampingFactor
    val initRank =
      if (cfg.sourceNodes.isEmpty) lit(alpha)
      else when(col("id").isInCollection(cfg.sourceNodes), lit(alpha)).otherwise(lit(0.0))
    augEdges.filter(col("norm").isNull)
      .select(col("src").as("id"))
      .select(col("id"), initRank.as("rank"), initRank.as("delta"),
              lit(true).as(SuperstepLoop.ActiveCol))
  }

  /** One superstep over `state` (id, rank, delta, _active), hash-partitioned
    * by id like the src-partitioned `augEdges`. Not on the
    * [[SuperstepLoop.gather]] kernel: the carrier rows of `augEdges` carry
    * each node's own rank through the same join, so the state is referenced
    * once per step instead of twice (scatter and join-back). */
  private[graft] def step(augEdges: DataFrame, hubPath: Option[(DataFrame, DataFrame)],
                          cfg: PageRankConfig, deltaCoefficient: Double)
                         (state: DataFrame, iter: Int): DataFrame = {
    val lambda = cfg.dampingFactor * deltaCoefficient
    // Single pass over the augmented edge table: carrier rows (norm null)
    // transport the node's own rank; message rows send delta*norm while the
    // source is active. Inactive sources still flow their carrier. The
    // V-row state is the hash-join build side, so the E-row edge table only
    // streams past it and is never sorted.
    val mainFlow = state.hint("shuffle_hash").join(augEdges, col("id") === col("src"))
      .select(col("dst"),
        when(col("norm").isNull, col("rank")).as("carrier"),
        when(col("norm").isNotNull && col(SuperstepLoop.ActiveCol),
          col("delta") * col("norm")).as("msg"))

    val flow = hubPath match {
      case Some((hubIds, hubEdges)) =>
        // hub frontier: tiny (id, delta) slice broadcast against the
        // dst-partitioned hub adjacency — no hub-sized task anywhere.
        val hubState = state.join(broadcast(hubIds.withColumnRenamed("src", "id")), "id")
          .filter(col(SuperstepLoop.ActiveCol))
          .select(col("id").as("src"), col("delta"))
        val hubFlow = hubEdges.join(broadcast(hubState), "src")
          .select(col("dst"), lit(null).cast("double").as("carrier"),
            (col("delta") * col("norm")).as("msg"))
        mainFlow.unionByName(hubFlow)
      case None => mainFlow
    }

    flow.groupBy(col("dst").as("id"))
      .agg(max(col("carrier")).as("rank0"), sum(col("msg")).as("msum"))
      .select(
        col("id"),
        (col("rank0") + coalesce(lit(lambda) * col("msum"), lit(0.0))).as("rank"),
        coalesce(lit(lambda) * col("msum"), lit(0.0)).as("delta"))
      // active ⇔ delta > tolerance: a node sends (and blocks convergence)
      // exactly while its delta exceeds the tolerance — including degree-0
      // nodes, which in the reference delay the all-voted convergence check
      // by one iteration (PageRankComputation.java:94-101).
      .withColumn(SuperstepLoop.ActiveCol, col("delta") > lit(cfg.tolerance))
  }
}

/** Post-hoc score scalers (reference: algo-common/src/main/java/org/neo4j/
  * gds/scaling/ScalarScaler.java:55-122; wired into PageRank via
  * PageRankAlgorithm.java:77-98). Implemented as single-pass aggregations +
  * a column transform. */
sealed trait Scaler
object Scaler {
  case object NoScaler extends Scaler
  case object L1Norm   extends Scaler
  case object L2Norm   extends Scaler
  case object MinMax   extends Scaler
  case object Mean     extends Scaler
  case object StdScore extends Scaler
  case object Max      extends Scaler
  case object Log      extends Scaler

  def apply(s: Scaler, df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    s match {
      case NoScaler => df
      case Log      => df.withColumn(valueCol, log(v))
      case L1Norm =>
        val n = df.agg(sum(abs(v))).first().getDouble(0)
        df.withColumn(valueCol, v / lit(if (n == 0.0) 1.0 else n))
      case L2Norm =>
        val n = df.agg(sqrt(sum(v * v))).first().getDouble(0)
        df.withColumn(valueCol, v / lit(if (n == 0.0) 1.0 else n))
      case Max =>
        val m = df.agg(max(abs(v))).first().getDouble(0)
        df.withColumn(valueCol, v / lit(if (m == 0.0) 1.0 else m))
      case MinMax =>
        val r  = df.agg(min(v), max(v)).first()
        val lo = r.getDouble(0); val hi = r.getDouble(1)
        val span = if (hi - lo == 0.0) 1.0 else hi - lo
        df.withColumn(valueCol, (v - lit(lo)) / lit(span))
      case Mean =>
        val r  = df.agg(avg(v), min(v), max(v)).first()
        val mu = r.getDouble(0); val span = r.getDouble(2) - r.getDouble(1)
        df.withColumn(valueCol, (v - lit(mu)) / lit(if (span == 0.0) 1.0 else span))
      case StdScore =>
        val r  = df.agg(avg(v), stddev_pop(v)).first()
        val mu = r.getDouble(0); val sd = r.getDouble(1)
        df.withColumn(valueCol, (v - lit(mu)) / lit(if (sd == 0.0) 1.0 else sd))
    }
  }
}
