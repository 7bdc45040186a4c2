package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** Label propagation schedule.
  *
  * The reference's implementation is semi-asynchronous: batches update a
  * shared label array in place, in node order within each batch (reference:
  * algo/src/main/java/org/neo4j/gds/labelpropagation/ComputeStep.java:82-92,
  * LabelPropagation.java:139-148). With a single batch that is exactly an
  * in-node-order Gauss–Seidel sweep — the schedule the reference's own
  * fixtures encode (LabelPropagationTest.java:93-141 only holds under it).
  *
  *  - [[Schedule.Sweep]] reproduces that schedule deterministically. A sweep
  *    is inherently sequential, so it runs as a single sorted partition —
  *    the same locality the single-JVM reference has. SMALL-GRAPH /
  *    FIXTURE-PARITY MODE ONLY: the whole graph serializes through one task;
  *    never use it at scale (and it is deliberately NOT the default).
  *  - [[Schedule.Sync]] (DEFAULT) is the scalable synchronous variant (one
  *    shuffle round per iteration, deterministic under any parallelism).
  *    Labels can differ from the reference's async schedule (which is itself
  *    nondeterministic at concurrency > 1); community structure converges
  *    the same way.
  */
sealed trait Schedule
object Schedule {
  case object Sweep    extends Schedule
  case object Sync     extends Schedule
  /** Pure synchronous rounds (every node updates every iteration). Fully
    * deterministic and SQL-expressible, but can 2-cycle on bipartite-ish
    * graphs — use with a fixed iteration budget. */
  case object FullSync extends Schedule
}

/** Reference defaults: maxIterations 10 (algo/src/main/java/org/neo4j/gds/
  * labelpropagation/LabelPropagationBaseConfig.java:42-44). */
final case class LpConfig(
  maxIterations: Int = 10,
  seedProperty: Option[String] = None,
  nodeWeightProperty: Option[String] = None,
  schedule: Schedule = Schedule.Sync,
  numPartitions: Option[Int] = None,
  checkpointDir: Option[String] = None,
  checkpointInterval: Int = 1)

final case class LpResult(labels: DataFrame, ranIterations: Int, didConverge: Boolean)

/** Label propagation with GDS-exact semantics:
  *
  *  - init label = seed value when present, else maxSeenSeed + originalId + 1;
  *    with no seed property maxSeenSeed = -1, so label = originalId
  *    (reference: InitStep.java:58-79, NO_SUCH_LABEL fallback
  *    LabelPropagation.java:94)
  *  - each node adopts the label maximizing Σ(relationshipWeight ×
  *    nodeWeight(neighbor)) over its out-neighbors; ties break to the
  *    smaller label id (ComputeStepConsumer.java:64-77); no vote → keep label
  *  - converged when a full iteration changes no label; ranIterations counts
  *    the detecting iteration (LabelPropagation.java:139-148)
  */
object LabelPropagation {

  def run(graph: PropertyGraph, cfg: LpConfig = LpConfig()): LpResult = cfg.schedule match {
    case Schedule.Sweep                       => runSweep(graph, cfg)
    case Schedule.Sync | Schedule.FullSync    => runSync(graph, cfg)
  }

  private def initLabelCol(vertices: DataFrame, cfg: LpConfig): org.apache.spark.sql.Column =
    cfg.seedProperty match {
      case Some(p) if vertices.columns.contains(p) =>
        val maxSeed = vertices.agg(max(col(p).cast("long"))).first() match {
          case r if r.isNullAt(0) => -1L
          case r                  => r.getLong(0)
        }
        coalesce(col(p).cast("long"), col("id") + lit(maxSeed + 1L))
      case _ => col("id")
    }

  private def weightedEdges(graph: PropertyGraph, cfg: LpConfig): DataFrame = {
    val es = GraphOps.withWeight(graph.edges)
    cfg.nodeWeightProperty match {
      case Some(p) if graph.vertices.columns.contains(p) =>
        es.join(graph.vertices.select(col("id").as("dst"),
            coalesce(col(p).cast("double"), lit(1.0)).as("__nw")), Seq("dst"))
          .select(col("src"), col("dst"), (col("weight") * col("__nw")).as("weight"))
      case _ => es.select("src", "dst", "weight")
    }
  }

  // ---------------------------------------------------------------- Sweep

  private def runSweep(graph: PropertyGraph, cfg: LpConfig): LpResult = {
    val spark = graph.edges.sparkSession
    import spark.implicits._

    val verts = graph.vertices.select(col("id"), initLabelCol(graph.vertices, cfg).as("label0"))
    val adj = weightedEdges(graph, cfg)
      .groupBy("src").agg(collect_list(struct(col("dst"), col("weight"))).as("nbrs"))
      .withColumnRenamed("src", "id")
    val rows = verts.join(adj, Seq("id"), "left")
      .select(col("id"), col("label0"),
        coalesce(col("nbrs"), array().cast("array<struct<dst:bigint,weight:double>>")).as("nbrs"))
      .as[(Long, Long, Seq[(Long, Double)])]
      // Gauss–Seidel needs a global node order with in-place updates: one
      // sorted partition (matches the single-JVM reference's single batch).
      .repartition(1)
      .sortWithinPartitions("id")

    val out: Dataset[(Long, Long, Int, Boolean)] = rows.mapPartitions { it =>
      val nodes = it.toArray
      val labels = new java.util.HashMap[Long, Long](nodes.length * 2)
      nodes.foreach { case (id, l0, _) => labels.put(id, l0) }
      var iterations = 0
      var converged  = false
      while (!converged && iterations < cfg.maxIterations) {
        iterations += 1
        var changed = false
        nodes.foreach { case (id, _, nbrs) =>
          if (nbrs.nonEmpty) {
            val votes = new java.util.HashMap[Long, Double]()
            nbrs.foreach { case (dst, w) =>
              val l = labels.getOrDefault(dst, dst)
              votes.merge(l, w, (a: Double, b: Double) => a + b)
            }
            var bestLabel  = labels.get(id)
            var bestWeight = Double.NegativeInfinity
            votes.forEach { (l, w) =>
              if (bestWeight < w || (bestWeight == w && l < bestLabel)) {
                bestWeight = w; bestLabel = l
              }
            }
            if (bestLabel != labels.get(id)) { labels.put(id, bestLabel); changed = true }
          }
        }
        converged = !changed
      }
      nodes.iterator.map { case (id, _, _) => (id, labels.get(id), iterations, converged) }
    }

    val persisted = out.toDF("id", "label", "__it", "__conv").persist()
    val meta = persisted.select(max("__it"), max("__conv")).first()
    val (it, conv) =
      if (meta.isNullAt(0)) (0, true) else (meta.getInt(0), meta.getBoolean(1))
    LpResult(persisted.select("id", "label"), it, conv)
  }

  // ----------------------------------------------------------------- Sync

  private def runSync(graph: PropertyGraph, cfg: LpConfig): LpResult = {
    val spark = graph.edges.sparkSession
    val parts = cfg.numPartitions.getOrElse(
      GraphOps.adaptiveParts(spark, graph.edges.count()))

    val edges = voteEdges(graph, cfg, parts)
    val seeded = cfg.seedProperty.exists(graph.vertices.columns.contains)
    val init = initState(
      if (seeded) graph.vertices.repartition(parts, col("id")) else graph.vertexIds(parts), cfg)

    val loopCfg = LoopConfig(cfg.maxIterations, cfg.checkpointDir, cfg.checkpointInterval)
    val result = GraphOps.withShuffleWidth(spark, parts) {
      SuperstepLoop.run(init, loopCfg)(syncStep(edges, cfg.schedule, parts))
    }
    if (nodeWeighted(graph, cfg)) edges.unpersist(false)
    LpResult(result.state.select("id", "label"), result.ranIterations, result.didConverge)
  }

  private def nodeWeighted(graph: PropertyGraph, cfg: LpConfig): Boolean =
    cfg.nodeWeightProperty.exists(graph.vertices.columns.contains)

  /** The vote edges of `graph`: its dst-partitioned projection
    * [[PropertyGraph.inEdges]] itself, unless a node weight rescales the
    * votes into a table of their own (which the caller frees). */
  private[graft] def voteEdges(graph: PropertyGraph, cfg: LpConfig, parts: Int): DataFrame =
    if (nodeWeighted(graph, cfg)) voteEdges(weightedEdges(graph, cfg), parts)
    else graph.inEdges(parts)

  /** The node-weighted (src, dst, weight) vote edges, persisted and
    * partitioned by dst like [[PropertyGraph.inEdges]]: each iteration joins
    * them to the state on dst with no exchange. */
  private[graft] def voteEdges(weighted: DataFrame, parts: Int): DataFrame =
    SuperstepLoop.persistInput(weighted, parts, "dst")

  /** Initial state (id, label, _active) over `vertices`, which are
    * hash-partitioned by id (the graph's [[PropertyGraph.vertexIds]], or the
    * vertex table repartitioned when a seed property is read). */
  private[graft] def initState(vertices: DataFrame, cfg: LpConfig): DataFrame =
    vertices.select(col("id"), initLabelCol(vertices, cfg).as("label"),
      lit(true).as(SuperstepLoop.ActiveCol))

  /** One Sync/FullSync iteration over `state` (id, label, _active),
    * hash-partitioned by id into `parts` like the dst-partitioned `edges`.
    *
    * Semi-synchronous schedule — the deterministic, distributed analogue
    * of the reference's asynchronous in-place updates
    * (LabelPropagation.java:139-148): every iteration computes the
    * synchronous vote for ALL nodes (that powers the convergence check:
    * converged ⇔ a full synchronous pass would change nothing, a genuine
    * fixpoint), but only a per-iteration pseudo-random half of the nodes
    * adopts its new label. Alternating halves break the 2-cycle
    * oscillations a fully synchronous schedule exhibits on bipartite-ish
    * structures; the hash makes the schedule a pure function of
    * (id, iteration) — bit-identical across runs and parallelism levels.
    *
    * One exchange per iteration: the votes are hash-partitioned by `src`
    * once, and the (src, cand) sum, the per-src argmax and the join back
    * onto the state all reuse that partitioning. Both joins build their
    * hash table on the V-row side, so the edge table is never sorted. Not
    * on the [[SuperstepLoop.gather]] kernel: the weighted vote is two-level
    * (sum per (src, cand), then argmax per src), not one reducer per id. */
  private[graft] def syncStep(edges: DataFrame, schedule: Schedule, parts: Int)
                             (state: DataFrame, iter: Int): DataFrame = {
    // Gather the labels of out-neighbors: vote (src ← label(dst), weight).
    val votes = edges
      .join(state.select(col("id").as("dst"), col("label").as("cand")).hint("shuffle_hash"), "dst")
      .repartition(parts, col("src"))
      .groupBy("src", "cand").agg(sum("weight").as("w"))
    // argmax by (weight desc, label asc): max(struct(w, -cand)) — built-in
    // aggregate, no UDAF (SURVEY.md §4 item 3). A struct buffer has no hash
    // aggregate, so this plans a SortAggregate that sorts the vote rows.
    val best = votes
      .groupBy(col("src").as("id"))
      .agg(max(struct(col("w"), (-col("cand")).as("neg"))).as("b"))
      .select(col("id"), (-col("b.neg")).as("voted"))
    val phase =
      if (schedule == Schedule.FullSync) lit(true)
      else pmod(xxhash64(col("id"), lit(iter.toLong)), lit(2L)) === lit(0L)
    val wants = col("voted").isNotNull && col("voted") =!= col("label")
    state.select("id", "label").join(best.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"),
        when(phase && wants, col("voted")).otherwise(col("label")).as("label"),
        wants.as(SuperstepLoop.ActiveCol))
  }
}
