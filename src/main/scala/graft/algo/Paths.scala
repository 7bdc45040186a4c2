package graft.algo

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Orientation, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** Path / traversal algorithms (reference inventory SURVEY.md §2.3):
  * BFS (`gds.alpha.bfs`), SSSP as parallel iterative relaxation — the Spark
  * idiom for the reference's delta-stepping (`gds.alpha.shortestPath.
  * deltaStepping`, alpha/alpha-algo/impl/ShortestPathDeltaStepping.java) —
  * and collapsePath (`gds.alpha.collapsePath.mutate`,
  * alpha/alpha-algo/impl/walking/CollapsePath.java).
  *
  * All frontier-based: each round only vertices improved last round
  * propagate, so rounds shrink with the frontier; one shuffle per round.
  */
object Paths {

  /** BFS levels from `source` (unweighted hops). Returns (id, distance) for
    * reached vertices. maxDepth bounds the rounds. */
  def bfs(graph: PropertyGraph, source: Long,
          orientation: Orientation = Orientation.Natural,
          maxDepth: Int = 100): DataFrame = {
    val spark = graph.edges.sparkSession
    // shuffle width sized to the edge count (floor 2, session cap) — see
    // GraphOps.adaptiveParts; edges/init/loop must share ONE width so the
    // per-level joins stay co-partitioned
    val parts = GraphOps.adaptiveParts(spark, graph.edges.count())
    GraphOps.withShuffleWidth(spark, parts) {
    val edges = graph.edgesBySrc(orientation, parts).select("src", "dst")
    val levels = relaxFrom(graph.vertexIds(parts), edges, source, 0L, Long.MaxValue,
      col("dist") + 1L, maxDepth)
    levels.filter(col("dist") =!= Long.MaxValue).select("id", "dist")
    }
  }

  /** Single-source shortest paths over non-negative weights: parallel
    * Bellman-Ford-style relaxation with a frontier — the shuffle-native
    * equivalent of delta-stepping's bucketed relaxation (every round relaxes
    * the whole improved frontier; rounds <= longest shortest-path hop
    * count). Returns (id, distance). */
  def sssp(graph: PropertyGraph, source: Long,
           orientation: Orientation = Orientation.Natural,
           maxRounds: Int = 200): DataFrame = {
    val spark = graph.edges.sparkSession
    val parts = GraphOps.adaptiveParts(spark, graph.edges.count())
    GraphOps.withShuffleWidth(spark, parts) {
    distances(graph.vertexIds(parts), graph.edgesBySrc(orientation, parts), source, maxRounds)
    }
  }

  /** (id, dist) of every vertex reachable from `source` over the
    * src-partitioned (src, dst, weight) `edges` (the graph's
    * [[PropertyGraph.edgesBySrc]]), starting from the id-partitioned `vertices`;
    * the rows are a read of the loop's cached final state. Call inside a
    * shuffle scope at the width of the inputs. */
  private[graft] def distances(vertices: DataFrame, edges: DataFrame, source: Long,
                               maxRounds: Int): DataFrame = {
    val inf = Double.PositiveInfinity
    relaxFrom(vertices, edges, source, 0.0, inf, col("dist") + col("weight"), maxRounds)
      .filter(!col("dist").isNaN && col("dist") =!= inf)
      .select("id", "dist")
  }

  /** Initial single-source state (id, dist, extra…, _active) over the
    * id-partitioned `vertices`: `zero` at `source`, `inf` elsewhere, only the
    * source active. */
  private[graft] def sourceState(vertices: DataFrame, source: Long, zero: Any, inf: Any,
                                 extra: Column*): DataFrame =
    vertices.select(
      Seq(col("id"), when(col("id") === source, lit(zero)).otherwise(lit(inf)).as("dist")) ++
        extra :+ (col("id") === source).as(SuperstepLoop.ActiveCol): _*)

  /** Frontier min-relaxation of `dist` from `source` to fixpoint (at most
    * `maxRounds` supersteps); returns the loop's final state. Min-relaxation
    * is fixpoint-stable (an empty frontier reproduces the state) and the
    * fused loop still caps supersteps at `maxRounds` exactly; fusing removes
    * the per-round driver round-trip that dominates latency on
    * small-diameter web graphs. */
  private def relaxFrom(vertices: DataFrame, edges: DataFrame, source: Long,
                        zero: Any, inf: Any, cand: Column, maxRounds: Int): DataFrame =
    SuperstepLoop.run(sourceState(vertices, source, zero, inf),
        LoopConfig(maxRounds, fusedSteps = 4)) { (state, _) =>
      SuperstepLoop.relax(state, edges, "dist", cand, min = true)
    }.state

  /** DFS preorder from `source` with deterministic neighbor order
    * (ascending id) and optional depth / target exit conditions — the
    * `gds.alpha.dfs.stream` surface (reference: alpha/alpha-algo/src/main/
    * java/org/neo4j/gds/impl/traverse/Traverse.java, DFS factory + exit
    * predicates). A depth-first order is inherently a single sequential
    * stack walk, so like the reference (one thread) it runs in ONE task
    * over the locally-gathered adjacency of the REACHABLE subgraph —
    * fixture-parity / moderate-subgraph mode by design; use [[bfs]] for
    * frontier-parallel traversal at scale. Returns (id, visitOrder). */
  def dfs(graph: PropertyGraph, source: Long,
          orientation: Orientation = Orientation.Natural,
          maxDepth: Int = Int.MaxValue,
          targets: Set[Long] = Set.empty): DataFrame = {
    val spark = graph.edges.sparkSession
    import spark.implicits._
    // bound the gathered adjacency to the reachable subgraph first
    val reachable = bfs(graph, source, orientation, maxDepth = math.min(maxDepth, 100))
      .select("id")
    val subEdges = graph.orientedEdges(orientation).select("src", "dst")
      .join(reachable.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
      .distinct()
    val rows = subEdges
      .groupBy("src").agg(sort_array(collect_list("dst")).as("nbrs"))
      .as[(Long, Seq[Long])]
      .repartition(1)
    val out = rows.mapPartitions { it =>
      val adj = new java.util.HashMap[Long, Seq[Long]]()
      it.foreach { case (u, ns) => adj.put(u, ns) }
      val visited = new java.util.HashSet[Long]()
      val order   = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val stack   = scala.collection.mutable.Stack[(Long, Int)]((source, 0))
      var stop    = false
      while (stack.nonEmpty && !stop) {
        val (v, d) = stack.pop()
        if (!visited.contains(v)) {
          visited.add(v)
          order += ((v, order.length.toLong))
          if (targets.contains(v)) stop = true
          else if (d < maxDepth) {
            val ns = adj.getOrDefault(v, Seq.empty)
            // push reversed so the smallest neighbor pops first
            ns.reverseIterator.foreach(n => if (!visited.contains(n)) stack.push((n, d + 1)))
          }
        }
      }
      order.iterator
    }
    out.toDF("id", "visitOrder")
  }

  /** Collapse fixed-length paths over the given relationship chain into
    * direct edges: path a -e1-> x -e2-> b becomes a->b. `hops` chained
    * equi-joins, exactly the reference's CollapsePath semantics (distinct
    * pairs, self-paths kept unless dropSelf). */
  def collapsePath(edgeChain: Seq[DataFrame], dropSelf: Boolean = true): DataFrame = {
    require(edgeChain.nonEmpty)
    // The result is DISTINCT (start, end) pairs, so each hop and the running
    // pair set dedupe EARLY: parallel edges and converging paths collapse at
    // every step, keeping intermediates bounded by |V|^2 — a k-hop chain
    // over a web-scale multigraph would otherwise multiply wedge counts.
    val collapsed = edgeChain
      .map(df => df.select(col("src"), col("dst")).distinct())
      .reduceLeft { (acc, next) =>
        acc.select(col("src"), col("dst").as("mid"))
          .join(next.select(col("src").as("mid"), col("dst")), "mid")
          .select("src", "dst").distinct()
      }
    if (dropSelf) collapsed.filter(col("src") =!= col("dst")) else collapsed
  }

  /** Deterministic seeded random walks (`gds.alpha.randomWalk.stream`,
    * node2vec-style uniform steps): `walksPerNode` walks of length `steps`
    * from every vertex; the step choice is a pure function of
    * (walkId, stepIndex, seed) — bit-identical across runs/parallelism.
    * Returns (walkId, startId, step, nodeId). Walks ending at a sink stop.
    *
    * Scale shape: adjacency is an INDEXED EDGE TABLE (src, pos, dst) — never
    * a per-node collected array (a 10M-degree hub would otherwise
    * materialize its whole neighborhood in one row). A hop is two equi-joins
    * (degree lookup to draw `pos`, then (src,pos) lookup); hop frames are
    * lazily persisted and the whole walk materializes in ONE action at the
    * end — round 1 ran persist+count per hop. */
  def randomWalks(graph: PropertyGraph, steps: Int, walksPerNode: Int = 1,
                  seed: Long = 42L,
                  returnFactor: Double = 1.0,
                  inOutFactor: Double = 1.0): DataFrame = {
    // p/q-biased walks (the reference's gds.alpha.randomWalk is the
    // node2vec walker — alpha/alpha-algo/.../impl/walking/RandomWalk.java):
    // delegate to the rejection-sampled second-order walker and restore
    // this function's (walkId, startId, step, nodeId) contract. walkId is
    // "<startId>_<walkIndex>", so startId is recoverable without a join.
    if (returnFactor != 1.0 || inOutFactor != 1.0)
      return Node2Vec.biasedWalks(graph, Node2Vec.Node2VecConfig(
          walkLength = steps + 1, walksPerNode = walksPerNode,
          returnFactor = returnFactor, inOutFactor = inOutFactor, seed = seed))
        .select(col("walkId"),
          split(col("walkId"), "_").getItem(0).cast("long").as("startId"),
          col("step"), col("nodeId"))
    val spark = graph.edges.sparkSession
    val parts = GraphOps.adaptiveParts(spark, graph.edges.count())
    GraphOps.withShuffleWidth(spark, parts) {
    import org.apache.spark.sql.expressions.Window
    // positions are deterministic: row_number over (src, dst) ordering
    val idx = graph.edges.select("src", "dst")
      .withColumn("pos",
        row_number().over(Window.partitionBy("src").orderBy("dst", "src")) - 1)
      .repartition(parts, col("src"))
      .persist()
    val deg = idx.groupBy("src").agg(count(lit(1)).as("deg")).persist()

    var walks = graph.vertices.select("id")
      .crossJoin(spark.range(walksPerNode).select(col("id").as("w")))
      .select(concat_ws("_", col("id"), col("w")).as("walkId"),
        col("id").as("startId"), lit(0).as("step"), col("id").as("nodeId"))
      .persist()
    var out = walks
    val hops = scala.collection.mutable.ArrayBuffer[DataFrame](walks)

    for (s <- 1 to steps) {
      val drawn = walks
        .join(deg, walks("nodeId") === deg("src"))
        .select(col("walkId"), col("startId"), col("nodeId"),
          pmod(xxhash64(col("walkId"), lit(s), lit(seed)), col("deg")).as("pos"))
      val next = drawn
        .join(idx, drawn("nodeId") === idx("src") && drawn("pos") === idx("pos"))
        .select(col("walkId"), col("startId"), lit(s).as("step"), col("dst").as("nodeId"))
        .persist() // lazy: materialized by the caller's single final action
      hops += next
      walks = next
      out = out.unionByName(next)
    }
    val result = out.persist()
    result.count() // one action materializes every hop via its cache
    hops.foreach(_.unpersist(false))
    idx.unpersist(false); deg.unpersist(false)
    result
    }
  }
}
