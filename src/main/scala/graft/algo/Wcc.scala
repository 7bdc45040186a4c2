package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** WCC configuration (reference: algo/src/main/java/org/neo4j/gds/wcc/
  * WccBaseConfig.java:32-49). `threshold`: union only edges with
  * weight > threshold (strict, reference Wcc.java DirectedUnionWithThresholdTask).
  * `seedProperty`: incremental mode — vertices carrying a seed component id
  * continue from it. `consecutiveIds`: remap component ids to 0..k-1. */
final case class WccConfig(
  threshold: Option[Double] = None,
  seedProperty: Option[String] = None,
  consecutiveIds: Boolean = false,
  maxSteps: Int = 200,
  checkpointDir: Option[String] = None,
  checkpointInterval: Int = 1,
  numPartitions: Option[Int] = None,
  localSolveThreshold: Long = 100000L,
  /** Supersteps chained lazily per driver action (LoopConfig.fusedSteps):
    * >1 checks convergence only at batch boundaries — at most fusedSteps-1
    * near-empty extra rounds (the shrunk frontier makes them cheap) in
    * exchange for 1/fusedSteps the driver synchronizations. */
  fusedSteps: Int = 1)

final case class WccResult(components: DataFrame, ranIterations: Int, didConverge: Boolean)

/** Connected components via hash-min label propagation to fixpoint.
  *
  * The reference computes WCC with a wait-free union-find using union-by-min,
  * so the final component id is the smallest member id (reference:
  * core/src/main/java/org/neo4j/gds/core/utils/paged/dss/
  * HugeAtomicDisjointSetStruct.java:113-193, union-by-min at :174; algorithm
  * algo/src/main/java/org/neo4j/gds/wcc/Wcc.java:69-437). Hash-min
  * propagation over the undirected edge view converges to exactly that
  * labeling — the reference itself ships this formulation as its Pregel
  * example (examples/pregel-example/src/main/java/org/neo4j/gds/beta/pregel/
  * cc/ConnectedComponentsPregel.java:44-76). Since we keep original 64-bit
  * ids end-to-end, component id = smallest original member id.
  *
  * Scale shape: only vertices whose component label changed last round send
  * (frontier shrinks geometrically on web graphs); one shuffle per round
  * (min-aggregation with map-side combine); edges symmetrized once,
  * partitioned by src and persisted across rounds.
  */
object Wcc {

  def run(graph: PropertyGraph, cfg: WccConfig = WccConfig()): WccResult = {
    val spark = graph.edges.sparkSession
    // adaptive width (GraphOps.adaptiveParts): session width at web scale,
    // data-sized on small (sub)graphs; the loop scopes the same width so
    // superstep shuffles stay co-partitioned with the edge table
    val parts = cfg.numPartitions.getOrElse(
      GraphOps.adaptiveParts(spark, graph.edges.count()))

    val base = cfg.threshold match {
      case Some(t) => GraphOps.withWeight(graph.edges).filter(col("weight") > lit(t))
      case None    => graph.edges
    }
    // Undirected view: orientation does not change WCC results (reference
    // WccTest.java asserts NATURAL/REVERSE/UNDIRECTED parity).
    val undirected = base.select("src", "dst")
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .repartition(parts, col("src"))
      .persist()

    val initComp = cfg.seedProperty match {
      case Some(p) => least(col("id"), coalesce(col(p).cast("long"), col("id")))
      case None    => col("id")
    }
    val init = graph.vertices
      .repartition(parts, col("id"))
      .select(col("id"), initComp.as("comp"), lit(true).as(SuperstepLoop.ActiveCol))

    val loopCfg = LoopConfig(cfg.maxSteps, cfg.checkpointDir, cfg.checkpointInterval,
      fusedSteps = cfg.fusedSteps, shuffleWidth = Some(parts))
    val result = SuperstepLoop.run(init, loopCfg)((state, _) => step(undirected)(state))
    undirected.unpersist(false)

    val comps = result.state.select(col("id"), col("comp").as("componentId"))
    finish(comps, cfg, result.ranIterations, result.didConverge)
  }

  /** One hash-min superstep over `state` (id, comp, _active), hash-partitioned
    * by id like the src-partitioned `undirected` edges. Both joins build
    * their hash table on the V-row side (the active frontier, then the
    * per-vertex minimum), so the edge table is never sorted and the
    * superstep's only exchange is the min-aggregation's. */
  private[graft] def step(undirected: DataFrame)(state: DataFrame): DataFrame = {
    val candidates = state
      .filter(col(SuperstepLoop.ActiveCol))
      .select(col("id").as("src"), col("comp"))
      .hint("shuffle_hash")
      .join(undirected, "src")
      .select(col("dst").as("id"), col("comp").as("cand"))
      .groupBy("id").agg(min("cand").as("cand"))
    state.select("id", "comp").join(candidates.hint("shuffle_hash"), Seq("id"), "left")
      .select(col("id"), least(col("comp"), col("cand")).as("comp"),
              (col("cand") < col("comp")).as("_changed"))
      .withColumn(SuperstepLoop.ActiveCol, coalesce(col("_changed"), lit(false)))
      .drop("_changed")
  }

  /** Star-contraction WCC (alternating large-star / small-star, Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — O(log n) rounds
    * INDEPENDENT OF GRAPH DIAMETER, vs hash-min's O(diameter). Use for
    * high-diameter graphs (paths, trees, meshes, road networks) where
    * hash-min would need thousands of supersteps; hash-min stays the default
    * for web graphs (diameter ~20, one cheaper shuffle per round).
    *
    * Both phases are expressed as groupBy-min + a co-partitioned join-back —
    * no neighbor-set collection anywhere, so a 10M-degree hub costs a
    * map-side-combined aggregation like any other node. Converges to the
    * same labeling as the reference's union-by-min DSS (componentId =
    * smallest member id).
    */
  def runStar(graph: PropertyGraph, cfg: WccConfig = WccConfig()): WccResult = {
    val spark = graph.edges.sparkSession
    val parts = cfg.numPartitions.getOrElse(
      GraphOps.adaptiveParts(spark, graph.edges.count()))
    GraphOps.withShuffleWidth(spark, parts) {

    val thresholded = cfg.threshold match {
      case Some(t) => GraphOps.withWeight(graph.edges).filter(col("weight") > lit(t))
      case None    => graph.edges
    }
    // Seeded incremental mode: a seed value acts as a virtual node tied to
    // its carrier — the final label is min over (members ∪ seeds), exactly
    // hash-min's least(id, seed) init + min propagation.
    val base = cfg.seedProperty match {
      case Some(p) => thresholded.select("src", "dst").unionByName(
        graph.vertices.filter(col(p).isNotNull && col(p).cast("long") =!= col("id"))
          .select(col("id").as("src"), col(p).cast("long").as("dst")))
      case None => thresholded
    }
    // Symmetric, loop-free initial edge multiset (kept deduped per round).
    var edges = base.select("src", "dst")
      .unionByName(base.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
      .repartition(parts, col("src")).persist()
    var rounds = 0

    // One phase: for each node u with neighbor set N(u),
    //   m(u) = min(N(u) ∪ {u});
    //   large: emit (v, m) for v ∈ N(u), v > u   (+ keep (u,m) if m < u)
    //   small: emit (v, m) for v ∈ N(u), v ≤ u, v ≠ m, plus (u, m)
    // Emitted directed pairs are re-symmetrized for the next phase.
    def phase(e: DataFrame, large: Boolean): DataFrame = {
      val m = e.groupBy("src").agg(least(min(col("dst")), col("src")).as("m"))
      val j = e.join(m, "src")
      val out =
        if (large)
          j.filter(col("dst") > col("src"))
            .select(col("dst").as("a"), col("m").as("b"))
            .unionByName(m.filter(col("m") < col("src"))
              .select(col("src").as("a"), col("m").as("b")))
        else
          j.filter(col("dst") <= col("src") && col("dst") =!= col("m"))
            .select(col("dst").as("a"), col("m").as("b"))
            .unionByName(m.select(col("src").as("a"), col("m").as("b")))
      // re-symmetrize in ONE pass over `out` (explode, not a self-union that
      // would execute the phase join twice); repartition BEFORE distinct —
      // hash(src) clusters equal (src, dst) pairs, so the dedup aggregate
      // reuses the exchange instead of adding a second one
      out.filter(col("a") =!= col("b"))
        .select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .repartition(parts, col("src"))
        .distinct()
    }

    def checksum(df: DataFrame) =
      df.agg(count(lit(1)),
          sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")))
        .collect()(0)

    // Tail handoff (same hybrid as SpanningTree/Scc): star contraction
    // shrinks the edge set geometrically, so once it fits on the driver a
    // local union-find finishes in one pass instead of ~log(n) more rounds
    // of fixed superstep latency.
    var prev = checksum(edges)
    var cnt  = prev.getLong(0)
    var done = cnt == 0L
    var localRoots: Option[DataFrame] = None
    while (!done && rounds < cfg.maxSteps) {
      if (cnt <= cfg.localSolveThreshold) {
        rounds += 1
        val pairs = edges.filter(col("src") < col("dst")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val parent = new java.util.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
          var c = x
          while (parent.getOrDefault(c, c) != c) {
            val n = parent.getOrDefault(c, c); parent.put(c, r); c = n
          }
          r
        }
        pairs.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
        }
        val labels: Seq[(Long, Long)] =
          pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
            .iterator.map((x: Long) => (x, find(x))).toSeq
        import spark.implicits._
        localRoots = Some(spark.createDataset(labels).toDF("id", "comp"))
        done = true
      } else {
        rounds += 1
        val next = phase(phase(edges, large = true), large = false).persist()
        // Convergence: the edge set is a fixed star forest — stable under
        // both phases. Detected by an order-insensitive checksum (one
        // aggregation, map-side combined), not a set-compare join.
        val cur = checksum(next)
        done = prev == cur
        prev = cur
        cnt  = cur.getLong(0)
        edges.unpersist(false)
        edges = org.apache.spark.sql.GraftSqlCompat.truncatePlan(next)
      }
    }

    // Stars: every remaining edge (u, v) with v < u maps u -> root v (the
    // min-agg also keeps labels single-valued if maxSteps cut the loop
    // short); isolated vertices root at themselves.
    val roots = localRoots.getOrElse(
      edges.filter(col("dst") < col("src"))
        .groupBy(col("src").as("id")).agg(min(col("dst")).as("comp")))
    val comps = graph.vertices.select("id")
      .join(broadcastIfLocal(roots, localRoots.isDefined), Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("componentId"))
    edges.unpersist(false)
    finish(comps, cfg, rounds, done)
    }
  }

  private def broadcastIfLocal(df: DataFrame, isLocal: Boolean): DataFrame =
    if (isLocal) broadcast(df) else df

  private def finish(comps: DataFrame, cfg: WccConfig,
                     ranIterations: Int, didConverge: Boolean): WccResult = {
    val out =
      if (cfg.consecutiveIds) {
        // Remap to dense 0..k-1 ids (reference WccStreamProc.java:87-91).
        // The window runs over distinct component ids only (k ≪ n).
        val distinctComps = comps.select("componentId").distinct()
          .withColumn("__dense", row_number().over(Window.orderBy("componentId")) - 1)
        comps.join(distinctComps, "componentId")
          .select(col("id"), col("__dense").cast("long").as("componentId"))
      } else comps
    WccResult(out, ranIterations, didConverge)
  }
}
