package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

final case class K1ColoringConfig(maxIterations: Int = 30, numPartitions: Option[Int] = None,
  /** Graphs at or below this many edges run the same conflict-resolution
    * rounds driver-locally (identical deterministic semantics, zero
    * per-round job latency); -1 forces the distributed path. */
  localTailThreshold: Long = 500000L)

/** K-1 graph coloring (reference: algo/src/main/java/org/neo4j/gds/beta/
  * k1coloring/K1Coloring.java — greedy parallel coloring with conflict
  * resolution rounds).
  *
  * Each round every still-conflicted vertex recolors to the smallest color
  * not used by its neighbors; conflicts (same color across an edge) are
  * broken by the higher vertex id recoloring. Converges when no edge is
  * monochromatic. Returns (id, color).
  */
object K1Coloring {

  def run(graph: PropertyGraph, cfg: K1ColoringConfig = K1ColoringConfig()): DataFrame =
    runWithStats(graph, cfg)._1

  def runWithStats(graph: PropertyGraph,
                   cfg: K1ColoringConfig): (DataFrame, graft.pregel.LoopResult) = {
    val spark = graph.edges.sparkSession
    // Scoped shuffle width sized by DATA (AQE is off inside superstep
    // loops, so nothing else coalesces): each conflict round is ~6 narrow
    // shuffle stages whose task-launch cost — not data — floors the round
    // at small graph sizes. ~50k edges per partition; large graphs keep the
    // session's width.
    val e0 = graph.edges.count()
    if (cfg.localTailThreshold >= 0L && e0 <= cfg.localTailThreshold)
      return runLocal(graph, cfg)
    val parts = cfg.numPartitions.getOrElse(GraphOps.adaptiveParts(spark, e0, 50000L))
    GraphOps.withShuffleWidth(spark, parts)(runWithParts(graph, cfg, parts))
  }

  /** Driver-local tail: the exact same synchronous rounds — monochromatic
    * edges with an active endpoint pick the higher-id endpoint as loser,
    * every loser recolors to mex(previous-round neighbor colors < 65536) —
    * on flat arrays. Deterministic, so local == distributed exactly
    * (asserted in CommunityExtrasSpec). */
  private def runLocal(graph: PropertyGraph,
                       cfg: K1ColoringConfig): (DataFrame, graft.pregel.LoopResult) = {
    import scala.collection.mutable
    val spark = graph.edges.sparkSession
    val ids = graph.vertices.select("id").collect().map(_.getLong(0))
    val n   = ids.length
    val idx = mutable.HashMap.empty[Long, Int]
    var i = 0
    while (i < n) { idx(ids(i)) = i; i += 1 }
    val canon = mutable.HashSet.empty[(Int, Int)]
    graph.edges.select("src", "dst").collect().foreach { r =>
      val s = r.getLong(0); val d = r.getLong(1)
      if (s != d) (idx.get(s), idx.get(d)) match {
        case (Some(a), Some(b)) => canon += (if (ids(a) < ids(b)) (a, b) else (b, a))
        case _                  => ()
      }
    }
    val edges = canon.toArray
    // undirected CSR
    val cnt = new Array[Int](n)
    edges.foreach { case (a, b) => cnt(a) += 1; cnt(b) += 1 }
    val off = new Array[Int](n + 1)
    i = 0
    while (i < n) { off(i + 1) = off(i) + cnt(i); i += 1 }
    val nbr    = new Array[Int](off(n))
    val cursor = java.util.Arrays.copyOf(off, n)
    edges.foreach { case (a, b) =>
      nbr(cursor(a)) = b; cursor(a) += 1
      nbr(cursor(b)) = a; cursor(b) += 1
    }

    val colors = new Array[Long](n)
    val active = Array.fill(n)(true)
    var iter      = 0
    var converged = n == 0
    while (!converged && iter < cfg.maxIterations) {
      iter += 1
      val isLoser = new Array[Boolean](n)
      var any = false
      edges.foreach { case (a, b) =>
        if (colors(a) == colors(b) && (active(a) || active(b))) {
          isLoser(if (ids(a) > ids(b)) a else b) = true
          any = true
        }
      }
      if (!any) converged = true
      else {
        val newColors = colors.clone()
        i = 0
        while (i < n) {
          if (isLoser(i)) {
            var taken = List.empty[Long]
            var p = off(i)
            while (p < off(i + 1)) {
              val c = colors(nbr(p))
              if (c < 65536L) taken ::= c
              p += 1
            }
            // mex over sorted distinct colors (same fold as the Spark expr)
            val sorted = taken.distinct.sorted
            var acc = 0L
            sorted.foreach(v => if (v == acc) acc += 1L)
            newColors(i) = acc
          }
          i += 1
        }
        System.arraycopy(newColors, 0, colors, 0, n)
        i = 0
        while (i < n) { active(i) = isLoser(i); i += 1 }
      }
    }
    val out = spark.createDataFrame(ids.indices.map(v => (ids(v), colors(v), active(v))))
      .toDF("id", "color", SuperstepLoop.ActiveCol)
    (out.select("id", "color"),
      graft.pregel.LoopResult(out, iter, converged, Seq.empty))
  }

  private def runWithParts(graph: PropertyGraph, cfg: K1ColoringConfig,
                           parts: Int): (DataFrame, graft.pregel.LoopResult) = {
    val spark = graph.edges.sparkSession
    val undirected = GraphOps.canonicalUndirected(graph.edges)
    val edges = SuperstepLoop.persistInput(
      undirected.select(col("lo").as("src"), col("hi").as("dst"))
        .unionByName(undirected.select(col("hi").as("src"), col("lo").as("dst"))),
      parts, "src")

    val init = graph.vertices.select("id")
      .repartition(parts, col("id"))
      .select(col("id"), lit(0L).as("color"), lit(true).as(SuperstepLoop.ActiveCol))

    // Not on the SuperstepLoop.gather kernel: conflict detection joins the
    // state at BOTH endpoints of each edge, and only the losers gather.
    val result = SuperstepLoop.run(init, LoopConfig(cfg.maxIterations)) { (state, _) =>
      // Frontier-proportional round. Invariant: every monochromatic edge has
      // at least one ACTIVE (recolored-last-round) endpoint — untouched
      // vertex pairs were conflict-free before and kept their colors. So
      // conflict detection only scans edges leaving the active frontier,
      // and the neighbor-color gather runs only for the losers; round cost
      // tracks deg(frontier), not |E|, and the shrinking tail rounds are
      // nearly free.
      val act = state.filter(col(SuperstepLoop.ActiveCol))
        .select(col("id").as("src"), col("color").as("c"))
      // monochromatic edge with an active endpoint: the HIGHER id recolors
      val losers = act.join(edges, "src")
        .join(state.select(col("id").as("dst"), col("color").as("c2")), "dst")
        .filter(col("c") === col("c2"))
        .select(greatest(col("src"), col("dst")).as("id")).distinct()
      // neighbor colors for losers only. The gathered set is CAPPED:
      // mex(taken) can never exceed the number of distinct colors in use,
      // and a greedy coloring uses at most maxCore+1 colors — far below the
      // cap — so filtering colors >= 65536 cannot change the mex while
      // bounding the per-node aggregation state on power-law hubs (a
      // 10M-degree hub would otherwise materialize its whole neighborhood's
      // color set in one row).
      val taken = edges.join(losers.withColumnRenamed("id", "src"), "src")
        .join(state.select(col("id").as("dst"), col("color").as("nc")), "dst")
        .filter(col("nc") < lit(65536L))
        .groupBy(col("src").as("id")).agg(collect_set("nc").as("taken"))
      // mex(taken): fold over the sorted distinct colors — acc counts how
      // many consecutive values 0,1,2,… are present; the first gap stops it.
      val mex = aggregate(sort_array(col("taken")), lit(0L),
        (acc, v) => when(v === acc, acc + 1L).otherwise(acc))
      state.select("id", "color").join(taken, Seq("id"), "left")
        .select(col("id"),
          when(col("taken").isNotNull, mex).otherwise(col("color")).as("color"),
          col("taken").isNotNull.as(SuperstepLoop.ActiveCol))
    }
    edges.unpersist(false)
    (result.state.select("id", "color"), result)
  }
}
