package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** Influence maximization under the independent-cascade model.
  *
  * Reference: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/
  * influenceMaximization/{CELF,Greedy,IndependentCascade}.java — lazy-greedy
  * seed selection with Monte-Carlo cascade simulations per candidate. Driver
  * loops over every candidate node do not distribute; the Spark formulation
  * is reverse influence sampling (RIS, Borgs et al. 2014): sample R
  * reverse-reachable (RR) sets — each a backward BFS from a random root over
  * hash-sampled live edges — then greedily pick the k nodes covering the
  * most RR sets. The expected spread of a seed set is proportional to the
  * fraction of RR sets it covers, so greedy-on-coverage approximates the
  * same objective the reference simulates, with ALL sampling running as one
  * distributed frontier loop instead of per-candidate simulations.
  *
  * Determinism: roots and live edges are chosen by seeded xxhash64, so the
  * result is reproducible at any parallelism. */
object InfluenceMaximization {

  final case class Result(seeds: DataFrame, samples: Int)

  /** @param k          seed set size
    * @param p          independent-cascade propagation probability
    * @param samples    number of RR sets (more = tighter spread estimate)
    * @param maxDepth   cascade horizon (backward BFS rounds per sample batch)
    */
  def run(graph: PropertyGraph, k: Int, p: Double = 0.1, samples: Int = 200,
          maxDepth: Int = 10, seed: Long = 42L): Result = {
    require(k >= 1 && p > 0 && p <= 1 && samples >= 1)
    val spark = graph.edges.sparkSession
    val parts = GraphOps.adaptiveParts(spark, graph.edges.count())
    import spark.implicits._

    // RR sets flow BACKWARD along edges: reverse the graph once.
    val rev = graph.edges.select(col("dst").as("src"), col("src").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("src")).persist()
    rev.count()

    // R roots by hash order over the vertex set: R rows survive the
    // distributed top-R, then get dense sample ids (tiny driver-free window).
    val ranked = graph.vertices
      .select(col("id"), xxhash64(col("id"), lit(seed)).as("h"))
      .orderBy("h").limit(samples)
    val roots = ranked
      .withColumn("sample",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy("h"))
          .cast("long"))
      .select(col("sample"), col("id"))

    // Backward BFS over all samples at once; an edge (u,v) is LIVE in sample
    // s iff a seeded hash clears the probability cut — the same coin the
    // reference's IndependentCascade flips, fixed per (edge, sample).
    val pCut = (p * 1e9).toLong
    val init = roots
      .select(col("sample"), col("id"), lit(true).as(SuperstepLoop.ActiveCol))
      .repartition(parts, col("id"))
    // Monotone reach expansion is fixpoint-stable (empty frontier => state
    // reproduces itself), so supersteps fuse; maxDepth stays an exact cap.
    // Not SuperstepLoop.relax: the state is keyed by (sample, id) and grows
    // to samples x reached rows, so the frontier is not a V-sized build side.
    val reached = GraphOps.withShuffleWidth(spark, parts) {
      SuperstepLoop.run(init, LoopConfig(maxDepth, fusedSteps = 4)) { (state, _) =>
        val msgs = state.filter(col(SuperstepLoop.ActiveCol))
          .select(col("sample"), col("id").as("src"))
          .join(rev, "src")
          .filter(pmod(xxhash64(least(col("src"), col("dst")),
            greatest(col("src"), col("dst")), col("sample"), lit(seed)),
            lit(1000000000L)) < lit(pCut))
          .select(col("sample"), col("dst").as("id")).distinct()
          .withColumn("cand", lit(true))
        val full = state.select("sample", "id").withColumn("seen", lit(true))
          .join(msgs, Seq("sample", "id"), "full")
        full.select(col("sample"), col("id"),
          (coalesce(col("cand"), lit(false)) && col("seen").isNull)
            .as(SuperstepLoop.ActiveCol))
      }
    }.state.select("sample", "id").persist()
    reached.count()
    rev.unpersist(false)

    // Greedy max-coverage: k rounds of argmax over uncovered RR sets.
    var pairs = reached
    var covered = Seq.empty[(Long, Long, Double)] // (rank, nodeId, spreadGain)
    val n = graph.vertices.count()
    var rank = 0L
    while (rank < k) {
      rank += 1
      val top = pairs.groupBy("id").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("id").asc).limit(1).collect()
      if (top.isEmpty) {
        rank = k // no uncovered sets left
      } else {
        val best = top(0).getLong(0)
        val gain = top(0).getLong(1).toDouble / samples * n
        covered :+= ((rank, best, gain))
        val hit = pairs.filter(col("id") === lit(best)).select("sample")
        val next = pairs.join(hit, Seq("sample"), "left_anti").persist()
        next.count()
        pairs.unpersist(false)
        pairs = next
      }
    }
    pairs.unpersist(false)
    val seeds = covered.toDF("rank", "nodeId", "spreadGain")
    Result(seeds, samples)
  }
}
