package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo._
import graft.algo.{Hits, HitsConfig, K1Coloring, Paths}
import graft.core.{GraphOps, Orientation, PropertyGraph}
import graft.ops.{Ann, Dedup, Events, Multimodal, Sampling, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator exposes (a) a `queries` entry running the Spark-native
  * implementation on the driver-provided parquet tables and (b) where the
  * semantics are SQL-expressible, an equivalent DuckDB oracle in `oracleSql`.
  * Iterative graph algorithms are verified against loop-unrolled SQL with
  * identical arithmetic; WCC against enough unrolled hash-min rounds to
  * reach fixpoint with wide margin on the derived graphs.
  */
object SparkEntry {

  /** Flagship: the full web-graph pipeline — synthesize a Common-Crawl-style
    * page table, extract links into an edge table, run GDS-semantics PageRank,
    * return the top pages joined back to their urls. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = graft.io.Pages.synth(spark, 2000L)
    val graph = graft.io.Pages.toGraph(pages)
    val pr    = PageRank.run(graph, PageRankConfig(maxIterations = 10))
    pr.scores.join(graph.vertices, "id")
      .select(col("url"), col("score"))
      .orderBy(desc("score"), col("url"))
      .limit(20)
  }

  /** Stateful-stream shuffle/state-store partition count, scoped to the
    * data with GraphOps.withShuffleWidth (the state store allocates one
    * instance per partition per micro-batch — 32 is over-provisioned for the
    * test corpora; a real deployment sizes this to keyed-state volume the
    * same way). */
  private val StreamStateParts = 8

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ------------------------------------------------------------------
  // Derived graphs (deterministic, expressible identically in SQL)
  // ------------------------------------------------------------------

  /** Bipartite customer→order-bucket graph from `orders`. */
  private def ordersGraph(s: SparkSession, dir: String): PropertyGraph = {
    val o = table(s, dir, "orders")
    val edges = o.select((col("o_custkey") % 1500).as("src"),
                         (lit(1500L) + col("o_orderkey") % 2000).as("dst"))
    PropertyGraph(GraphOps.verticesOf(edges), edges)
  }
  private val OrdersEdgesSql =
    "SELECT o_custkey % 1500 AS src, 1500 + (o_orderkey % 2000) AS dst FROM orders"

  /** Weighted variant: deterministic weight in 1..7 per order row. */
  private def ordersWeightedGraph(s: SparkSession, dir: String): PropertyGraph = {
    val o = table(s, dir, "orders")
    val edges = o.select((col("o_custkey") % 1500).as("src"),
                         (lit(1500L) + col("o_orderkey") % 2000).as("dst"),
                         ((col("o_orderkey") % 7 + 1).cast("double")).as("weight"))
    PropertyGraph(GraphOps.verticesOf(edges), edges)
  }
  private val OrdersWeightedEdgesSql =
    "SELECT o_custkey % 1500 AS src, 1500 + (o_orderkey % 2000) AS dst, " +
    "CAST(o_orderkey % 7 + 1 AS DOUBLE) AS weight FROM orders"

  /** Dense mono-partite 300-node graph from `orders` (has triangles). */
  private def denseGraph(s: SparkSession, dir: String): PropertyGraph = {
    val o = table(s, dir, "orders")
    val edges = o.select((col("o_orderkey") % 300).as("src"),
                         ((col("o_orderkey") * 7 + col("o_custkey")) % 300).as("dst"))
    PropertyGraph(GraphOps.verticesOf(edges), edges)
  }
  private val DenseEdgesSql =
    "SELECT o_orderkey % 300 AS src, (o_orderkey * 7 + o_custkey) % 300 AS dst FROM orders"

  private val NodesSql =
    "nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges)"

  /** Two-cluster graph with separable one-hot-ish features: 300 nodes,
    * cluster = (id < 150), intra-cluster ring + chord edges. The learnable
    * structure the ML pipeline queries train on; deterministic and
    * expressible in SQL. */
  private def mlGraph(s: SparkSession): PropertyGraph = {
    val n = 300L; val half = 150L
    val verts = s.range(n).select(col("id"),
      array((col("id") < half).cast("double"),
            (col("id") >= half).cast("double"),
            (col("id") % 7).cast("double") / 7.0).as("emb"),
      when(col("id") < half, 0L).otherwise(1L).as("cls"))
    val base = when(col("id") < half, lit(0L)).otherwise(lit(half))
    val ring  = s.range(n).select(col("id").as("src"),
      (base + pmod(col("id") - base + 1, lit(half))).as("dst"))
    val chord = s.range(n).select(col("id").as("src"),
      (base + pmod(col("id") - base + 7, lit(half))).as("dst"))
    PropertyGraph(verts, ring.unionByName(chord))
  }

  // ------------------------------------------------------------------
  // Oracle SQL generators (loop-unrolled iterative algorithms)
  // ------------------------------------------------------------------

  /** GDS delta-push PageRank, `supersteps` total supersteps (superstep 0 is
    * the init+send step), unrolled as one CTE per superstep. Arithmetic
    * mirrors graft.algo.PageRank exactly: init = (1.0 - 0.85), delta =
    * 0.85 * Σ(delta_prev * w / deg). */
  private def pagerankSql(edgesSql: String, supersteps: Int, weighted: Boolean,
                          sources: Seq[Long] = Seq.empty): String = {
    val deg =
      if (weighted) "SELECT src, sum(weight) AS deg FROM edges GROUP BY src"
      else "SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src"
    val norm = if (weighted) "e.weight / d.deg" else "1.0 / d.deg"
    val initExpr =
      if (sources.isEmpty) "(1.0 - 0.85)"
      else s"CASE WHEN id IN (${sources.mkString(", ")}) THEN (1.0 - 0.85) ELSE 0.0 END"
    val steps = (1 until supersteps).map { k =>
      val p = s"s${k - 1}"
      s"""m$k AS (
         |  SELECT me.dst AS id, sum(s.delta * me.norm) AS msum
         |  FROM $p s JOIN medges me ON s.id = me.src
         |  WHERE s.delta > 0 GROUP BY me.dst),
         |s$k AS (
         |  SELECT s.id,
         |         s.rank + COALESCE(0.85 * m.msum, 0.0) AS rank,
         |         COALESCE(0.85 * m.msum, 0.0) AS delta
         |  FROM $p s LEFT JOIN m$k m ON s.id = m.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |deg AS ($deg),
       |medges AS (SELECT e.src, e.dst, $norm AS norm
       |           FROM edges e JOIN deg d ON e.src = d.src WHERE d.deg > 0),
       |s0 AS (SELECT id, $initExpr AS rank, $initExpr AS delta FROM nodes),
       |$steps
       |SELECT id, floor(rank * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS score FROM s${supersteps - 1} ORDER BY id""".stripMargin
  }

  /** ArticleRank unrolled like pagerankSql, with avgDegree folded in exactly
    * as graft.algo.PageRank.runInternal computes it: norm = 1/(deg+avgDeg),
    * per-superstep factor lam = 0.85 * avgDeg (one double, THEN times the
    * message sum — parenthesization mirrors the Scala arithmetic). */
  private def articleRankSql(edgesSql: String, supersteps: Int): String = {
    val steps = (1 until supersteps).map { k =>
      val p = s"s${k - 1}"
      s"""m$k AS (
         |  SELECT me.dst AS id, sum(s.delta * me.norm) AS msum
         |  FROM $p s JOIN medges me ON s.id = me.src
         |  WHERE s.delta > 0 GROUP BY me.dst),
         |s$k AS (
         |  SELECT s.id,
         |         s.rank + COALESCE((SELECT lam FROM lamv) * m.msum, 0.0) AS rank,
         |         COALESCE((SELECT lam FROM lamv) * m.msum, 0.0) AS delta
         |  FROM $p s LEFT JOIN m$k m ON s.id = m.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |avgd AS (SELECT (SELECT CAST(count(*) AS DOUBLE) FROM edges) /
       |                (SELECT CAST(count(*) AS DOUBLE) FROM nodes) AS ad),
       |lamv AS (SELECT 0.85 * ad AS lam FROM avgd),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
       |medges AS (SELECT e.src, e.dst, 1.0 / (d.deg + (SELECT ad FROM avgd)) AS norm
       |           FROM edges e JOIN deg d ON e.src = d.src WHERE d.deg > 0),
       |s0 AS (SELECT id, (1.0 - 0.85) AS rank, (1.0 - 0.85) AS delta FROM nodes),
       |$steps
       |SELECT id, floor(rank * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS score FROM s${supersteps - 1} ORDER BY id""".stripMargin
  }

  /** Hash-min WCC over the weight-thresholded edge set (strict `weight >
    * threshold`, mirroring WccConfig.threshold) — the vertex set stays the
    * FULL graph's, so below-threshold nodes become singleton components. */
  private def wccThresholdSql(edgesSql: String, rounds: Int, threshold: Double): String = {
    val steps = (1 to rounds).map { k =>
      s"""c$k AS (
         |  SELECT u.dst AS id, min(s.comp) AS comp
         |  FROM undx u JOIN c${k - 1} s ON s.id = u.src GROUP BY u.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |kept AS (SELECT src, dst FROM edges WHERE weight > $threshold AND src <> dst),
       |undx AS (SELECT src, dst FROM kept
       |         UNION SELECT dst, src FROM kept
       |         UNION SELECT id, id FROM nodes),
       |c0 AS (SELECT id, id AS comp FROM nodes),
       |$steps
       |SELECT id, comp AS componentId FROM c$rounds ORDER BY id""".stripMargin
  }

  /** Hash-min WCC unrolled `rounds` times. The derived orders graph reaches
    * fixpoint in <= 7 rounds at sf0.001/0.01/0.1 (measured); 12 gives ~2x
    * margin while staying under the depth where nested-CTE optimization
    * costs explode in some engines. */
  private def wccSql(edgesSql: String, rounds: Int, consecutive: Boolean,
                     init: String = "id"): String = {
    // Each round references the previous CTE exactly ONCE (self-loop edges
    // carry a node's own component), keeping engines that inline CTEs at a
    // linear plan instead of an exponential one.
    val steps = (1 to rounds).map { k =>
      s"""c$k AS (
         |  SELECT u.dst AS id, min(s.comp) AS comp
         |  FROM undx u JOIN c${k - 1} s ON s.id = u.src GROUP BY u.dst)""".stripMargin
    }.mkString(",\n")
    val fin =
      if (consecutive)
        s"SELECT id, dense_rank() OVER (ORDER BY comp) - 1 AS componentId FROM c$rounds ORDER BY id"
      else s"SELECT id, comp AS componentId FROM c$rounds ORDER BY id"
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |undx AS (SELECT src, dst FROM edges WHERE src <> dst
       |         UNION SELECT dst, src FROM edges WHERE src <> dst
       |         UNION SELECT id, id FROM nodes),
       |c0 AS (SELECT id, $init AS comp FROM nodes),
       |$steps
       |$fin""".stripMargin
  }

  /** Fully synchronous label propagation, `iterations` unrolled rounds:
    * vote = out-neighbor labels weighted by edge count; argmax with
    * (weight DESC, label ASC) tie-break; keep label when no out-edges. */
  private def labelPropSql(edgesSql: String, iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      val p = s"l${k - 1}"
      s"""v$k AS (
         |  SELECT e.src, l.label AS cand, CAST(count(*) AS DOUBLE) AS w
         |  FROM edges e JOIN $p l ON l.id = e.dst GROUP BY e.src, l.label),
         |b$k AS (
         |  SELECT src AS id, cand FROM (
         |    SELECT src, cand, row_number() OVER (PARTITION BY src ORDER BY w DESC, cand ASC) AS rn
         |    FROM v$k) t WHERE rn = 1),
         |l$k AS (
         |  SELECT l.id, COALESCE(b.cand, l.label) AS label
         |  FROM $p l LEFT JOIN b$k b ON l.id = b.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |l0 AS (SELECT id, id AS label FROM nodes),
       |$steps
       |SELECT id, label FROM l$iterations ORDER BY id""".stripMargin
  }

  private def triangleBaseSql(edgesSql: String): String =
    s"""edges AS ($edgesSql),
       |$NodesSql,
       |canon AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
       |          FROM edges WHERE src <> dst),
       |tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
       |        FROM canon e1
       |        JOIN canon e2 ON e2.lo = e1.hi
       |        JOIN canon e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)""".stripMargin

  // ------------------------------------------------------------------
  // Shared query bodies — each is run twice: once with the production
  // threshold (small graphs take the driver-local tail) and once as a
  // `_dist` variant with threshold -1, forcing the at-scale DISTRIBUTED
  // plan under the same independent driver oracle (VERDICT r2 item 3).
  // ------------------------------------------------------------------

  /** Dense graph with the deterministic 1..5 weight used by the weighted
    * path-query family (matches the `wseed` arithmetic in the oracles). */
  private def weightedDense(s: SparkSession, dir: String): PropertyGraph = {
    val g = denseGraph(s, dir)
    g.copy(edges = g.edges.withColumn("weight",
      (pmod(col("src") * 31 + col("dst"), lit(5)) + 1).cast("double")))
  }

  private def dijkstraQuery(s: SparkSession, dir: String, tail: Long): DataFrame =
    // single-source Dijkstra with canonical predecessors + full paths;
    // the path is emitted as a string so the driver compare can hash it
    ShortestPaths.dijkstraSingleSource(weightedDense(s, dir), source = 0L,
        localTailThreshold = tail)
      .select(col("id"), graft.core.Num.roundTo(col("dist"), 6).as("dist"),
        col("pred"), concat_ws("->", col("path")).as("path_str"))
      .orderBy("id")

  private def astarQuery(s: SparkSession, dir: String, tail: Long): DataFrame =
    // A* with the haversine heuristic over grid coordinates; the tiny
    // radius keeps h < 1 = min edge weight (admissible), so the cost must
    // equal the Dijkstra distance the unrolled-relaxation oracle computes.
    ShortestPaths.astar(gridGraph(s, dir), source = 0L, target = 13L,
        radius = 0.001, localTailThreshold = tail)
      .select(col("sourceNode"), col("targetNode"),
        graft.core.Num.roundTo(col("totalCost"), 6).as("totalCost"))

  /** Yen's K shortest loopless paths: structural validity (every path
    * walks real edges whose min-weights sum to its cost, loopless, costs
    * nondecreasing) + the first path's cost replayed exactly by the
    * unrolled-relaxation oracle. */
  private def yensQuery(s: SparkSession, dir: String, localSolve: Long): DataFrame = {
    val g = gridGraph(s, dir)
    val paths = ShortestPaths.yens(g, source = 0L, target = 13L, k = 3,
      localSolveThreshold = localSolve).persist()
    val minW = GraphOps.withWeight(g.edges).groupBy("src", "dst").agg(min("weight").as("w"))
    val steps = paths.select(col("index"), posexplode(col("nodeIds")))
      .withColumnRenamed("col", "node")
    val trans = steps.join(steps.select(col("index"), (col("pos") - 1).as("pos"),
        col("node").as("next")), Seq("index", "pos"))
    val wEdges = minW.withColumnRenamed("src", "node").withColumnRenamed("dst", "next")
    val badEdges = trans.join(wEdges, Seq("node", "next"), "left_anti").count()
    val costMismatch = trans.join(wEdges, Seq("node", "next"))
      .groupBy("index").agg(sum("w").as("wsum"))
      .join(paths, "index")
      .filter(abs(col("wsum") - col("totalCost")) > 1e-9).count()
    val loops = steps.groupBy("index", "node").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).count()
    val costs = paths.orderBy("index").select("totalCost").collect().map(_.getDouble(0))
    val nondec = costs.sliding(2).forall(p => p.length < 2 || p(0) <= p(1))
    val first = math.floor(costs.head * 1e6 + 0.5 + 1e-6) / 1e6
    paths.unpersist(false)
    val spark = s; import spark.implicits._
    Seq((costs.length.toLong, nondec, badEdges, costMismatch, loops, first))
      .toDF("paths", "costs_nondecreasing", "bad_edges", "cost_mismatch",
        "loops", "first_cost")
  }

  private def sccQuery(s: SparkSession, dir: String, localSolve: Long): DataFrame = {
    val o = table(s, dir, "orders")
    val edges = o.filter(col("o_orderkey") % 9 === 0)
      .select((col("o_orderkey") % 400).as("src"),
              ((col("o_orderkey") * 13 + col("o_custkey") * 7) % 400).as("dst"))
    Scc.run(PropertyGraph(GraphOps.verticesOf(edges), edges),
      localSolveThreshold = localSolve).orderBy("id")
  }

  private def louvainL1Query(s: SparkSession, dir: String, tail: Long): DataFrame =
    // One synchronous local-move round from singletons (maxLevels=1,
    // maxInner=1, FullSync) — deterministic AND SQL-replayable: the oracle
    // recomputes the exact argmax_C [w(i,C) - k_i*tot_C/2m] move (all
    // arithmetic on integer-valued doubles, so cross-engine bit-identical).
    Louvain.run(denseGraph(s, dir), LouvainConfig(
      maxLevels = 1, maxInnerIterations = 1, schedule = Schedule.FullSync,
      localTailThreshold = tail)).communities.orderBy("id")

  private def harmonicQuery(s: SparkSession, dir: String, tail: Long): DataFrame =
    MsBfs.harmonic(denseGraph(s, dir), localTailThreshold = tail)
      .select(col("id"), graft.core.Num.roundTo(col("centrality"), 6).as("centrality"))
      .orderBy("id")

  /** All-pairs distance stream over a bounded source set (30 sources):
    * the reference's gds.alpha.allShortestPaths.stream semantics. */
  private def allPairsQuery(s: SparkSession, dir: String, tail: Long): DataFrame = {
    val g = denseGraph(s, dir)
    MsBfs.allShortestPaths(g,
        sources = Some(g.vertices.filter(col("id") < 30).select("id")),
        localTailThreshold = tail)
      .orderBy("sourceNodeId", "targetNodeId")
  }

  /** Weighted all-pairs distance stream over a bounded source set: the
    * weighted gds.alpha.allShortestPaths.stream semantics. */
  private def weightedAllPairsQuery(s: SparkSession, dir: String, tail: Long): DataFrame = {
    val g = denseGraph(s, dir)
    val weighted = g.copy(edges = g.edges
      .withColumn("weight", (pmod(col("src") * 31 + col("dst"), lit(5)) + 1).cast("double")))
    ShortestPaths.allShortestPathsWeighted(weighted,
        sources = Some(g.vertices.filter(col("id") < 20).select("id")),
        localTailThreshold = tail)
      .select(col("sourceNodeId"), col("targetNodeId"),
        graft.core.Num.roundTo(col("distance"), 6).as("distance"))
      .orderBy("sourceNodeId", "targetNodeId")
  }

  /** Path edges weigh 1..7, every chord >= 10: by the cycle property the
    * unique MST is exactly the path, so the oracle can state it in SQL. */
  private def spanningTreeQuery(s: SparkSession, dir: String, localSolve: Long): DataFrame =
    SpanningTree.run(pathChordGraph(s, dir), localSolveThreshold = localSolve)
      .treeEdges.orderBy("src", "dst")

  /** k=3: cut the 2 heaviest MST edges (ties by src — both engines use
    * (weight DESC, src, dst)); clusters labeled by smallest member id. */
  private def kspanningQuery(s: SparkSession, dir: String, localSolve: Long): DataFrame =
    SpanningTree.kSpanningTree(pathChordGraph(s, dir), k = 3,
      localSolveThreshold = localSolve).orderBy("id")

  /** Validity projection (speaker draws use engine-specific xxhash64):
    * every node holds >= 1 community, all labels are real node ids, and
    * the seeded run is bit-stable across two executions. */
  private def sllpaQuery(s: SparkSession, dir: String, tail: Long): DataFrame = {
    val g = denseGraph(s, dir)
    val run1 = Sllpa.run(g, maxIterations = 10, localTailThreshold = tail)
    val n = g.vertices.count()
    val covered = run1.communities.count()
    val badLabels = run1.communities
      .select(explode(col("communityIds")).as("id"))
      .join(g.vertices.select("id"), Seq("id"), "left_anti").count()
    val digest = (df: DataFrame) =>
      df.select(col("id"), concat_ws(",", col("communityIds")).as("d"))
    val rerunDiff = digest(run1.communities)
      .join(digest(Sllpa.run(g, maxIterations = 10,
        localTailThreshold = tail).communities),
        Seq("id", "d"), "left_anti").count()
    val spark = s; import spark.implicits._
    Seq((covered == n, badLabels, rerunDiff))
      .toDF("all_covered", "invalid_labels", "rerun_diff")
  }

  /** Validity projection (hash-seeded init): assignment covers every node
    * within k classes, and the local-search cut keeps at least half the
    * total edge weight (the classic greedy/local-opt guarantee). */
  private def maxkcutQuery(s: SparkSession, dir: String, tail: Long): DataFrame = {
    val g = pathChordGraph(s, dir)
    val r = MaxKCut.run(g, k = 2, maxIterations = 12, localTailThreshold = tail)
    val n = g.vertices.count()
    val assigned = r.assignments.count()
    val within = r.assignments.filter(col("community") < 0 || col("community") >= 2).count()
    val spark = s; import spark.implicits._
    Seq((assigned == n, within, r.cutWeight >= r.totalWeight / 2.0))
      .toDF("all_assigned", "out_of_range", "cut_ge_half")
  }

  /** Validity projection: number of monochromatic edges must be 0.
    * Runs on the power-law synthetic web graph (hubs included — they
    * exercise the capped neighbor-color gather): the near-complete
    * 300-node dense graph is a coloring pathology (chromatic number ~n
    * forces ~n sequential conflict rounds in ANY parallel greedy
    * scheme, the reference's included) and says nothing about scale. */
  private def k1coloringQuery(s: SparkSession, dir: String, tail: Long): DataFrame = {
    val edges = graft.io.Pages.synthEdges(s, 20000L, density = 2.0)
    val g = graft.core.PropertyGraph(GraphOps.verticesOf(edges), edges)
    val colors = K1Coloring.run(g, K1ColoringConfig(localTailThreshold = tail))
    val und = graft.core.GraphOps.canonicalUndirected(g.edges)
    val conflicts = und
      .join(colors.select(col("id").as("lo"), col("color").as("c1")), "lo")
      .join(colors.select(col("id").as("hi"), col("color").as("c2")), "hi")
      .filter(col("c1") === col("c2")).count()
    val spark = s; import spark.implicits._
    Seq(conflicts).toDF("monochromatic_edges")
  }

  private def betweennessQuery(s: SparkSession, dir: String, tail: Long): DataFrame =
    MsBfs.betweenness(denseGraph(s, dir), orientation = Orientation.Undirected,
        localTailThreshold = tail)
      .select(col("id"), graft.core.Num.roundTo(col("centrality"), 6).as("centrality"))
      .orderBy("id")

  private def closenessQuery(s: SparkSession, dir: String, tail: Long): DataFrame =
    MsBfs.closeness(denseGraph(s, dir), localTailThreshold = tail)
      .select(col("id"), graft.core.Num.roundTo(col("centrality"), 6).as("centrality"))
      .orderBy("id")

  /** NN-descent recall vs the (oracle-verified, see q_ann_topk) exact
    * brute-force top-k: >= 0.9 per the reference's quality bar. The
    * NN-descent run is deterministic (hash-seeded init), so this is a
    * stable validity projection; the recall value itself is not
    * SQL-replayable (hash-driven exploration).
    * The synthetic embeddings are uniform-random (max off-diagonal cosine
    * ~0.52) — NN-descent's adversarial regime, where neighbor-of-neighbor
    * transitivity carries no signal. The standard remedy is list
    * over-provisioning: search with internal k=20 lists, report top-5
    * (recall@5 = 0.998 at sf0.001; clustered real-world embeddings reach
    * ~1.0 without over-provisioning, see KnnSpec).
    * 4 rounds x 16 random joins beats 8 x 8 here: same total candidate
    * volume, half the per-round fixed shuffle cost, recall 0.947/0.998
    * at sf0.1/sf0.01 (graft.tools.KnnRecallProbe sweep). */
  private def knnQuery(s: SparkSession, dir: String, tail: Long): DataFrame = {
    val e = table(s, dir, "embeddings")
    val k = 5
    val approx = Knn.run(e,
      Knn.KnnConfig(k = 20, maxIterations = 4, randomJoins = 16,
        localTailThreshold = tail)).neighbors
    val exact = Ann.bruteForceTopK(e, e, k = k)
      .select(col("query_id").as("id"), col("neighbor_id"))
    val n = e.count()
    val matched = approx.filter(col("rank") <= k).select("id", "neighbor_id")
      .join(exact, Seq("id", "neighbor_id"), "left_semi").count()
    val spark = s; import spark.implicits._
    Seq((n, matched.toDouble / (n * k).toDouble >= 0.9))
      .toDF("nodes", "recall_ok")
  }

  // ------------------------------------------------------------------
  // Queries: one per implemented operator (SURVEY.md §2)
  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- plain relational sanity (engine basics) ---
    "q1_agg" -> ((s, dir) => table(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(graft.core.Num.roundTo(sum("l_quantity"), 2).as("sum_qty"),
        graft.core.Num.roundTo(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")),

    // --- centrality ---
    "q_pagerank" -> ((s, dir) => {
      val r = PageRank.run(ordersGraph(s, dir), PageRankConfig(tolerance = 0.0, maxIterations = 8))
      r.scores.select(col("id"), graft.core.Num.roundTo(col("score"), 6).as("score")).orderBy("id")
    }),
    "q_pagerank_weighted" -> ((s, dir) => {
      val r = PageRank.run(ordersWeightedGraph(s, dir),
        PageRankConfig(tolerance = 0.0, maxIterations = 6, weighted = true))
      r.scores.select(col("id"), graft.core.Num.roundTo(col("score"), 6).as("score")).orderBy("id")
    }),
    "q_degree" -> ((s, dir) =>
      DegreeCentrality.run(ordersGraph(s, dir))
        .select(col("id"), col("score").cast("long").as("degree")).orderBy("id")),
    "q_degree_weighted" -> ((s, dir) =>
      DegreeCentrality.run(ordersWeightedGraph(s, dir), weighted = true)
        .select(col("id"), graft.core.Num.roundTo(col("score"), 6).as("wdegree")).orderBy("id")),

    // --- community ---
    "q_wcc" -> ((s, dir) =>
      Wcc.run(ordersGraph(s, dir)).components.orderBy("id")),
    "q_wcc_consecutive" -> ((s, dir) =>
      Wcc.run(ordersGraph(s, dir), WccConfig(consecutiveIds = true)).components.orderBy("id")),
    "q_labelprop" -> ((s, dir) =>
      LabelPropagation.run(denseGraph(s, dir),
        LpConfig(maxIterations = 2, schedule = Schedule.FullSync)).labels.orderBy("id")),
    "q_louvain_l1" -> ((s, dir) => louvainL1Query(s, dir, tail = 500000L)),
    "q_louvain" -> ((s, dir) => {
      // invariant projection of the full multi-level run: assignment covers
      // every node, and the found partition's modularity strictly beats the
      // singleton partition's.
      val g = denseGraph(s, dir)
      val r = Louvain.run(g)
      val n = g.vertices.count()
      val assigned = r.communities.count()
      val singletonQ = Louvain.singletonModularity(g)
      val spark = s; import spark.implicits._
      Seq((assigned == n, r.modularity > singletonQ))
        .toDF("partition_complete", "improves_singletons")
    }),
    "q_triangle_local" -> ((s, dir) =>
      TriangleCount.run(denseGraph(s, dir)).localTriangles.orderBy("id")),
    "q_triangle_global" -> ((s, dir) => {
      val g = TriangleCount.run(denseGraph(s, dir)).globalTriangles
      val spark = s; import spark.implicits._
      Seq(g).toDF("triangles")
    }),
    "q_eigenvector" -> ((s, dir) => {
      val r = Eigenvector.run(denseGraph(s, dir),
        PageRankConfig(tolerance = 0.0, maxIterations = 6, fusedSteps = 5))
      r.scores.select(col("id"), graft.core.Num.roundTo(col("score"), 6).as("score")).orderBy("id")
    }),
    "q_node_similarity" -> ((s, dir) => {
      NodeSimilarity.run(ordersGraph(s, dir),
        graft.algo.NodeSimilarityConfig(topK = 3))
        .select(col("n1"), col("n2"),
          graft.core.Num.roundTo(col("similarity"), 6).as("similarity"))
        .orderBy("n1", "n2")
    }),
    "q_modes_chain" -> ((s, dir) => {
      // mutate-then-chain through the catalog on a formerly stream-only
      // algorithm (the reference's composition idiom): nodeSimilarity.mutate
      // attaches each node's topK jaccard pairs as SIMILAR relationships, a
      // subgraph projects only those, and degree + weight-sum aggregate per
      // node — all against the exact SQL jaccard oracle.
      val gds = graft.api.Gds(s)
      val g = ordersGraph(s, dir)
      gds.graph.create("mc", g.vertices, g.edges)
      gds.nodeSimilarity.mutate("mc", "SIMILAR",
        graft.algo.NodeSimilarityConfig(topK = 3))
      gds.graph.subgraph("mc", "mc_sim", edgePredicate = "rel_type = 'SIMILAR'")
      gds.catalog.get("mc_sim").edges
        .groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("sim_degree"),
          graft.core.Num.roundTo(sum("weight"), 5).as("sim_weight"))
        .orderBy("id")
    }),
    "q_bfs" -> ((s, dir) =>
      Paths.bfs(denseGraph(s, dir), source = 0L).orderBy("id")),
    "q_all_pairs" -> ((s, dir) => allPairsQuery(s, dir, tail = 500000L)),
    "q_weighted_all_pairs" -> ((s, dir) => weightedAllPairsQuery(s, dir, tail = 500000L)),
    "q_sssp" -> ((s, dir) => {
      val g = denseGraph(s, dir)
      val weighted = g.copy(edges = g.edges
        .withColumn("weight", (pmod(col("src") * 31 + col("dst"), lit(5)) + 1).cast("double")))
      Paths.sssp(weighted, source = 0L)
        .select(col("id"), graft.core.Num.roundTo(col("dist"), 6).as("dist")).orderBy("id")
    }),
    "q_pregel_sssp" -> ((s, dir) => {
      // the PUBLIC Pregel extension API (user-computation surface, SURVEY
      // §2.6) running SSSP written purely against Pregel()/withVertexColumn/
      // sendMsgToDst/aggMsgs — same weighted graph and exact unrolled-
      // relaxation oracle as q_sssp, so the facade's vote-to-halt loop is
      // driver-verified end-to-end.
      import graft.pregel.Pregel
      val g = denseGraph(s, dir)
      val weighted = g.copy(edges = g.edges
        .withColumn("weight", (pmod(col("src") * 31 + col("dst"), lit(5)) + 1).cast("double")))
      Pregel(weighted)
        .withVertexColumn("dist",
          init = when(col("id") === 0L, 0.0),
          afterMsg = when(col("dist").isNull || Pregel.msg < col("dist"), Pregel.msg)
            .otherwise(col("dist")))
        .sendMsgToDst(when(Pregel.src("dist").isNotNull,
          Pregel.src("dist") + Pregel.edge("weight")))
        .aggMsgs(min(Pregel.msg))
        .setMaxIterations(20)
        .setFusedSteps(4)
        .run()
        .filter(col("dist").isNotNull)
        .select(col("id"), graft.core.Num.roundTo(col("dist"), 6).as("dist"))
        .orderBy("id")
    }),
    "q_collapse_path" -> ((s, dir) => {
      val e = denseGraph(s, dir).edges
      Paths.collapsePath(Seq(e, e)).orderBy("src", "dst")
    }),
    "q_hits" -> ((s, dir) =>
      // 3 iterations, kept below Hits.RescaleEvery (4) so the unrolled
      // oracle replays the pure unnormalized recurrence + final L2 exactly
      Hits.run(denseGraph(s, dir), HitsConfig(maxIterations = 3))
        .select(col("id"), graft.core.Num.roundTo(col("hub"), 6).as("hub"),
          graft.core.Num.roundTo(col("auth"), 6).as("auth")).orderBy("id")),
    "q_k1coloring_valid" -> ((s, dir) => k1coloringQuery(s, dir, tail = 500000L)),
    "q_random_walks" -> ((s, dir) => {
      // validity projection (walk steps use engine-specific hashing, so the
      // walks themselves aren't SQL-replayable): every consecutive
      // (nodeId -> next) transition must be a real edge, every node starts
      // exactly one walk, and every walk runs the full 4 steps (the dense
      // graph has no sinks — every node id 0..299 appears as a source).
      val g = denseGraph(s, dir)
      val walks = Paths.randomWalks(g, steps = 4, walksPerNode = 1)
      val trans = walks.select(col("walkId"), col("step"), col("nodeId"))
        .join(walks.select(col("walkId"), (col("step") - 1).as("step"),
          col("nodeId").as("next")), Seq("walkId", "step"))
      val invalid = trans.join(
          g.edges.select(col("src").as("nodeId"), col("dst").as("next")).distinct(),
          Seq("nodeId", "next"), "left_anti").count()
      val nWalks = walks.filter(col("step") === 0).count()
      val full   = walks.filter(col("step") === 4).count()
      val spark = s; import spark.implicits._
      Seq((invalid, nWalks, full))
        .toDF("invalid_transitions", "walks", "complete_walks")
    }),
    "q_random_walks_biased" -> ((s, dir) => {
      // p/q-biased walker (gds.alpha.randomWalk with return/in-out factors,
      // delegating to the node2vec rejection sampler): same validity
      // projection as q_random_walks PLUS the bias direction itself —
      // a strong return bias (p=0.05) must produce more immediate
      // backtracks (node at t-2 == node at t) than a strong away bias
      // (p=20), and runs must be deterministic.
      val g = denseGraph(s, dir)
      def walks(p: Double) = Paths.randomWalks(g, steps = 4, walksPerNode = 1,
        seed = 7L, returnFactor = p, inOutFactor = 1.0)
      val w = walks(0.05)
      val trans = w.select(col("walkId"), col("step"), col("nodeId"))
        .join(w.select(col("walkId"), (col("step") - 1).as("step"),
          col("nodeId").as("next")), Seq("walkId", "step"))
      val invalid = trans.join(
          g.edges.select(col("src").as("nodeId"), col("dst").as("next")).distinct(),
          Seq("nodeId", "next"), "left_anti").count()
      def backtracks(df: org.apache.spark.sql.DataFrame): Long =
        df.alias("x").join(df.alias("y"),
            col("x.walkId") === col("y.walkId") &&
            col("y.step") === col("x.step") + 2)
          .filter(col("x.nodeId") === col("y.nodeId")).count()
      val biasOk = backtracks(w) > backtracks(walks(20.0))
      val det = {
        val w2 = walks(0.05)
        w.exceptAll(w2).isEmpty && w2.exceptAll(w).isEmpty
      }
      val spark = s; import spark.implicits._
      Seq((invalid, w.filter(col("step") === 0).count(), biasOk, det))
        .toDF("invalid_transitions", "walks", "backtrack_bias_ok", "deterministic")
    }),
    "q_dijkstra" -> ((s, dir) => dijkstraQuery(s, dir, tail = 500000L)),
    "q_betweenness" -> ((s, dir) => betweennessQuery(s, dir, tail = 500000L)),
    "q_closeness" -> ((s, dir) => closenessQuery(s, dir, tail = 500000L)),
    "q_harmonic" -> ((s, dir) => harmonicQuery(s, dir, tail = 500000L)),
    "q_scc" -> ((s, dir) => sccQuery(s, dir, localSolve = 50000L)),
    "q_dfs" -> ((s, dir) => {
      // validity projection: DFS visits exactly the reachable set, starting
      // at the source (the preorder itself is stack-order and not
      // SQL-replayable; reachability is)
      val walk = Paths.dfs(denseGraph(s, dir), source = 0L)
      val visited = walk.count()
      val first = walk.filter(col("visitOrder") === 0).select("id").first().getLong(0)
      val spark = s; import spark.implicits._
      Seq((visited, first)).toDF("visited", "first_id")
    }),
    "q_lcc" -> ((s, dir) => {
      val (coeffs, _) = TriangleCount.localClusteringCoefficient(denseGraph(s, dir))
      coeffs.select(col("id"), graft.core.Num.roundTo(col("coefficient"), 6).as("coefficient")).orderBy("id")
    }),

    // --- projection / catalog surface ---
    "q_subgraph_degree" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val nCust = c.count()
      val vertices = c.select(col("c_custkey").as("id"), col("c_acctbal"))
      val edges = c.select(col("c_custkey").as("src"),
        ((col("c_custkey") * 3 + 1) % nCust).as("dst"))
      PropertyGraph(vertices, edges).subgraph(vertexPredicate = "c_acctbal > 1000")
        .degrees().select(col("id"), col("degree").cast("long").as("degree")).orderBy("id")
    }),

    // --- dedup / text analysis over `documents` ---
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactCanonical(table(s, dir, "documents"), "doc_id", "text").orderBy("id")),
    "q_token_count" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), TextOps.tokenCount(col("text")).as("tokens")).orderBy("doc_id")),
    "q_token_count_bpe" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.subwordTokenCount(col("text")).as("pretokens")).orderBy("doc_id")),
    "q_quality" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality")).orderBy("doc_id")),
    "q_lang_id" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), TextOps.langIdHeuristic(col("text")).as("predicted_lang"))
      .orderBy("doc_id")),
    "q_fingerprint" -> ((s, dir) => table(s, dir, "documents")
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp")).orderBy("doc_id")),
    "q_repetition" -> ((s, dir) => {
      // Gopher-style repetition quality signals: duplicate-token fraction
      // (pure array expression) + top-bigram occupancy (explode + doc-keyed
      // aggregation). Exact SQL oracle.
      val docs = table(s, dir, "documents")
      val dup = docs.select(col("doc_id"),
        TextOps.duplicateTokenFraction(col("text")).as("dup_token_frac"))
      val top = TextOps.topNgramFraction(docs, "doc_id", "text", n = 2)
        .select(col("id").as("doc_id"), col("top"), col("total"),
          col("fraction").as("top_bigram_frac"))
      dup.join(top, "doc_id").orderBy("doc_id")
    }),
    "q_text_classifier" -> ((s, dir) => {
      // fastText-style hashed-ngram LR classifier on a deterministic 20%
      // md5 holdout. Target: is the focus token's frequency share above the
      // corpus-typical rate — the lexical-score-threshold shape a real
      // quality filter has, and (unlike this synthetic corpus's lang
      // column, which is independent of the text) actually derivable from
      // the features. Split sizes and class counts are exactly
      // SQL-replayable; the learned model's holdout accuracy is a validity
      // bound (>= 0.9 and >= the majority rate; the planted-vocab spec
      // test pins exact separation).
      val toks = TextOps.tokenCount(col("text"))
      val share = when(toks === 0, lit(0.0)).otherwise(
        size(regexp_extract_all(col("text"), lit("\\bspark\\b"), lit(0)))
          .cast("double") / toks.cast("double"))
      val docs = table(s, dir, "documents")
        .withColumn("y", (share >= 0.03).cast("long"))
      // unigram features only: the target is a unigram-share threshold, so
      // the problem is exactly linearly separable through the feature map
      // (256 buckets keep the focus token's bucket collision-free for this
      // corpus's small vocabulary)
      // lr sized to the tiny L1-share feature scale (probe: lr=200/2000
      // iters -> holdout acc 0.95; smaller steps stall before the weights
      // reach decision scale)
      val r = TextOps.trainTextClassifier(docs, "doc_id", "text", "y",
        dims = 256, bigrams = false,
        cfg = graft.ml.LogisticRegression.LrConfig(
          maxIterations = 2000, learningRate = 200.0))
      val majority = docs.agg(
        (greatest(sum(col("y")), count(lit(1)) - sum(col("y"))).cast("double") /
          count(lit(1))).as("m")).first().getDouble(0)
      val pos = docs.agg(sum("y")).first().getLong(0)
      val spark = s; import spark.implicits._
      Seq((r.trainRows, r.testRows, pos, r.accuracy >= 0.9, r.accuracy >= majority))
        .toDF("train_rows", "test_rows", "positives", "acc_ok", "beats_majority")
    }),
    "q_lm_score" -> ((s, dir) =>
      // CCNet-style corpus-LM quality scoring: add-k bigram LM trained on
      // the corpus itself, each doc scored by mean log-prob + perplexity.
      TextOps.bigramLmScore(table(s, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id").orderBy("doc_id")),
    "q_sample" -> ((s, dir) =>
      // deterministic Bernoulli sample: pure md5 draw, identical across
      // partitionings/retries/engines. Exact oracle replays the draw.
      Sampling.hashSample(table(s, dir, "documents"), Seq(col("doc_id")),
        fraction = 0.25, seed = 11L)
        .select("doc_id", "lang").orderBy("doc_id")),
    "q_sample_stratified" -> ((s, dir) =>
      // per-language fractions with a default for unlisted strata
      Sampling.stratifiedSample(table(s, dir, "documents"), col("lang"),
        Map("en" -> 0.1, "zh" -> 0.5), defaultFraction = 1.0,
        Seq(col("doc_id")), seed = 7L)
        .select("doc_id", "lang").orderBy("doc_id")),
    "q_jaccard_pairs" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(docs.select(col("doc_id").as("id_b")), "id_b")
      Dedup.jaccardForPairs(docs, pairs, "doc_id", "text", n = 1)
        .orderBy("id_a")
    }),

    // --- similarity search over `embeddings` ---
    "q_ann_topk" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      Ann.bruteForceTopK(e.filter(col("vec_id") < 5), e, k = 3)
        .orderBy("query_id", "rank")
    }),

    // --- event streams ---
    "q_sessionize" -> ((s, dir) =>
      Events.sessionize(table(s, dir, "events")).orderBy("user_id", "session_id")),
    "q_events_window" -> ((s, dir) =>
      Events.windowedCounts(table(s, dir, "events")).orderBy("window_start", "event_type")),
    "q_events_window_stream" -> ((s, dir) => GraphOps.withShuffleWidth(s, StreamStateParts) {
      // watermarked tumbling-window counts as a structured stream over the
      // SAME events table: fed time-ordered in two micro-batches plus a
      // far-future sentinel that drives the watermark past every real
      // window's close, the append-mode output must equal the batch
      // windowedCounts (= the q_events_window oracle) exactly. The
      // sentinel's own window never closes and is filtered.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = table(s, dir, "events")
        .select(col("ts").cast("timestamp"), col("event_type"),
          col("value").cast("double"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1),
          if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
        .sortBy(_._1.getTime)
      val maxTs = rows.map(_._1.getTime).max
      val input = MemoryStream[(java.sql.Timestamp, String, Double)]
      val q = Events.windowedCountsStream(
          input.toDS().toDF("ts", "event_type", "value"),
          windowExpr = "1 hour", watermark = "2 hours")
        .writeStream.outputMode("append").format("memory")
        .queryName("q_events_window_stream_out").start()
      try {
        val (a, b) = rows.splitAt(rows.length / 2)
        input.addData(a.toSeq); q.processAllAvailable()
        input.addData(b.toSeq); q.processAllAvailable()
        input.addData((new java.sql.Timestamp(maxTs + 7 * 86400000L), "sentinel", 0.0))
        q.processAllAvailable()
      } finally q.stop()
      s.table("q_events_window_stream_out")
        .filter(col("event_type") =!= "sentinel")
        .select(col("window_start").cast("timestamp_ntz").as("window_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy("window_start", "event_type")
    }),
    "q_sessionize_stream" -> ((s, dir) => GraphOps.withShuffleWidth(s, StreamStateParts) {
      // the Structured Streaming sessionizer (keyed state + event-time
      // timeout) over the SAME events table, fed through a MemoryStream and
      // closed out by a far-future sentinel user: once every real session's
      // (ended + gap) deadline is behind the watermark, the emitted set must
      // equal the batch/oracle sessionization EXACTLY. (The driver-side feed
      // is the test-harness source shape; production reads readStream
      // directly. The sentinel's own still-open session is filtered.)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val rows = table(s, dir, "events")
        .select(col("user_id").cast("long"), col("ts").cast("timestamp"),
          col("value").cast("double"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1),
          if (r.isNullAt(2)) 0.0 else r.getDouble(2)))
      val maxTs = rows.map(_._2.getTime).max
      val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
      val q = graft.streaming.StreamOps.sessionizeStream(
          input.toDS().toDF("user_id", "ts", "value"),
          gapSeconds = 1800L, watermark = "1 second")
        .writeStream.outputMode("append").format("memory")
        .queryName("q_sessionize_stream_out").start()
      try {
        input.addData(rows.toSeq)
        q.processAllAvailable()
        input.addData((-1L, new java.sql.Timestamp(maxTs + 86400000L), 0.0))
        q.processAllAvailable()
        input.addData((-1L, new java.sql.Timestamp(maxTs + 86401000L), 0.0))
        q.processAllAvailable()
      } finally q.stop()
      s.table("q_sessionize_stream_out")
        .filter(col("user_id") >= 0L)
        .select(col("user_id"), col("session_id"), col("events"),
          col("started").cast("timestamp_ntz").as("started"),
          col("ended").cast("timestamp_ntz").as("ended"), col("total_value"))
        .orderBy("user_id", "session_id")
    }),

    // --- near-dup / ANN / multimodal (fully oracle-verified projections) ---
    "q_minhash_neardup" -> ((s, dir) =>
      // LSH candidates verified by EXACT 3-gram Jaccard: with 16 bands of 2
      // the probability of missing a true >=0.8 pair is (1-0.64)^16 < 1e-7,
      // so the result equals the brute-force all-pairs answer the oracle
      // computes.
      Dedup.minHashNearDuplicatesExact(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8).orderBy("id_a", "id_b")),
    "q_c4_clean" -> ((s, dir) => {
      // C4-style line cleaning audit over deterministic 8-word "lines"
      // derived from the documents text: every third (doc,line) gets
      // terminal punctuation, doc_id%31 docs get a planted blocklisted
      // line. Exact per-line oracle (same keep rules in SQL).
      val docs = table(s, dir, "documents")
      val w = split(col("text"), " ")
      def chunk(a: Int) = concat_ws(" ", slice(w, a, 8))
      def mk(idx: Int, c: org.apache.spark.sql.Column) =
        when(lit(idx) === 3 && col("doc_id") % 31 === 0,
            lit("lorem ipsum dolor sit amet."))
          .otherwise(when((col("doc_id") + idx) % 3 === 0, concat(c, lit(".")))
            .otherwise(c))
      val d = docs.select(col("doc_id"),
        array(mk(0, chunk(1)), mk(1, chunk(9)), mk(2, chunk(17)), mk(3, chunk(25)))
          .as("lines"))
      graft.ops.TextOps.c4LineAudit(d, "doc_id", "lines")
        .orderBy("id", "line_idx")
    }),
    "q_paragraph_dedup" -> ((s, dir) => {
      // cross-corpus paragraph dedup: every group of 5 docs shares a planted
      // header paragraph -> only the group leader keeps it (first occurrence
      // = smallest (doc, position)); own-text chunks survive unless
      // coincidentally identical. Exact per-paragraph oracle.
      val docs = table(s, dir, "documents")
      val w = split(col("text"), " ")
      val par0 = concat(lit("shared header for group "),
        (col("doc_id") - col("doc_id") % 5).cast("string"))
      val d = docs.select(col("doc_id"),
        array(par0, concat_ws(" ", slice(w, 1, 8)), concat_ws(" ", slice(w, 9, 8)))
          .as("pars"))
      graft.ops.Dedup.paragraphAudit(d, "doc_id", "pars")
        .orderBy("id", "par_idx")
    }),
    "q_neardup_clusters" -> ((s, dir) => {
      // near-dup CLUSTERS: WCC (min-id hash-min labels) over the verified
      // LSH pair graph — transitive closure of pairwise near-duplication,
      // the production "keep one per cluster" shape. Exact oracle: DuckDB
      // recursive-CTE min-label reachability over the same brute-force
      // >=0.8-Jaccard pair set.
      Dedup.nearDupClusters(table(s, dir, "documents"), "doc_id", "text",
        threshold = 0.8).orderBy("id")
    }),
    "q_contamination" -> ((s, dir) => {
      // benchmark decontamination: exact 5-gram overlap of every document
      // against a planted "benchmark" subset (doc_id % 7 == 0) — those docs
      // must score contamination 1.0, disjoint docs 0. Exact SQL oracle
      // (string-gram join; engine joins 64-bit gram hashes).
      val docs = table(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 7 === 0).select("text")
      graft.ops.TextOps.contamination(docs, "doc_id", "text", bench, "text", n = 5)
        .orderBy("id")
    }),
    "q_simhash_neardup" -> ((s, dir) => {
      // validity projection (simhash uses engine-specific xxhash64): with the
      // production shape — 4 bands of 16 bits, the corpus-scale-selective
      // banding — any pair within hamming 3 shares a band by pigeonhole, so
      // every true near-duplicate (exact 3-gram Jaccard >= 0.8) whose
      // signatures are within hamming 3 MUST be reported —
      // missed_true_pairs is structurally 0 at any scale. (Jaccard >= 0.8
      // does not itself bound hamming, so the check recomputes each true
      // pair's hamming from the signatures before demanding recall.)
      val docs = table(s, dir, "documents")
      val simPairs = Dedup.simHashNearDuplicates(docs, "doc_id", "text",
        maxHamming = 3, bands = 4)
      val truePairs = Dedup.minHashNearDuplicatesExact(docs, "doc_id", "text",
        threshold = 0.8)
      val sigs = Dedup.simHash(docs, "doc_id", "text")
      val missed = truePairs
        .join(sigs.select(col("id").as("id_a"), col("simhash").as("h_a")), "id_a")
        .join(sigs.select(col("id").as("id_b"), col("simhash").as("h_b")), "id_b")
        .filter(Dedup.hammingDistance(col("h_a"), col("h_b")) <= 3)
        .select("id_a", "id_b")
        .join(simPairs.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
        .count()
      val spark = s; import spark.implicits._
      Seq(missed).toDF("missed_true_pairs")
    }),
    "q_dedup_stream" -> ((s, dir) => GraphOps.withShuffleWidth(s, StreamStateParts) {
      // streaming exact dedup over the documents table fed in two
      // micro-batches (cross-batch duplicate state exercised): exactly one
      // representative per normalized-text fingerprint must survive, so the
      // emitted fingerprint set equals the batch DISTINCT the oracle
      // computes. (Which duplicate survives is arrival-order-dependent —
      // the projection is the fingerprint set, which is deterministic.)
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docs = table(s, dir, "documents").select("doc_id", "text").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
      val input = MemoryStream[(Long, String)]
      val withTs = input.toDS().toDF("doc_id", "text")
        .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      val stream = graft.streaming.StreamOps
        .dedupExactStream(withTs, "doc_id", "text", "ts", watermark = "1 hour")
        .writeStream.outputMode("append").format("memory")
        .queryName("q_dedup_stream_out").start()
      try {
        val (a, b) = docs.splitAt(docs.length / 2)
        input.addData(a.toSeq); stream.processAllAvailable()
        input.addData(b.toSeq); stream.processAllAvailable()
      } finally stream.stop()
      s.table("q_dedup_stream_out")
        .select(graft.ops.TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("fp")
    }),
    "q_quantize" -> ((s, dir) => {
      // int8 scalar quantization digest: per-vector scale + integer code
      // sums — codes replay bit-for-bit in SQL (round-half-up floor form).
      val e = table(s, dir, "embeddings").filter(col("vec_id") < 200)
      val qz = graft.ops.Ann.scalarQuantize(e)
      qz.select(col("id").as("vec_id"),
          graft.core.Num.roundTo(col("scale"), 6).as("scale"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(transform(col("qvec"), x => (x * x).cast("long")),
            lit(0L), (a, x) => a + x).as("q_l2"))
        .orderBy("vec_id")
    }),
    "q_quantize_topk" -> ((s, dir) => {
      // top-3 under QUANTIZED cosine: scales cancel, every score derives
      // from exact integer dot products -> fully deterministic exact oracle
      // (unlike float cosine, no summation-order noise at all).
      val e = table(s, dir, "embeddings")
      graft.ops.Ann.quantizedCosineTopK(
          e.filter(col("vec_id") < 20), e.filter(col("vec_id") < 200), k = 3)
        .orderBy("query_id", "rank")
    }),
    "q_minhash_stream" -> ((s, dir) => GraphOps.withShuffleWidth(s, StreamStateParts) {
      // streaming MinHash-LSH near-dup detection over the documents table
      // fed in two micro-batches (cross-batch bucket state exercised), then
      // the batch exact-Jaccard verify over the streamed candidate set —
      // banding miss probability < 1e-7, so the verified pairs equal the
      // brute-force >=0.8 answer the oracle computes (same oracle as
      // q_minhash_neardup).
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val docsDf = table(s, dir, "documents").select("doc_id", "text")
      val docs = docsDf.collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.getString(1)))
        .sortBy(_._1)
      val input = MemoryStream[(Long, String)]
      val withTs = input.toDS().toDF("doc_id", "text")
        .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      val stream = graft.streaming.StreamOps
        .minHashCandidateStream(withTs, "doc_id", "text", "ts", watermark = "1 hour")
        .writeStream.outputMode("append").format("memory")
        .queryName("q_minhash_stream_out").start()
      try {
        val (a, b) = docs.splitAt(docs.length / 2)
        input.addData(a.toSeq); stream.processAllAvailable()
        input.addData(b.toSeq); stream.processAllAvailable()
      } finally stream.stop()
      // re-root the (small) candidate set: the memory-sink view is referenced
      // twice inside jaccardForPairs and MemoryPlan attributes don't re-alias
      val cands = s.table("q_minhash_stream_out")
        .select(col("id_a"), col("id_b")).distinct()
        .as[(Long, Long)].collect().toSeq.toDF("id_a", "id_b")
      graft.ops.Dedup.jaccardForPairs(docsDf, cands, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.8)
        .orderBy("id_a", "id_b")
    }),
    "q_fastrp" -> ((s, dir) => {
      // validity projection (the RNG stream is engine-specific): dimensions,
      // finiteness, unit-norm rounds for connected nodes, determinism across
      // two full runs — the SQL-checkable invariants of FastRP.
      val g0 = denseGraph(s, dir)
      val g = g0.copy(edges = g0.orientedEdges(graft.core.Orientation.Undirected))
      val cfg = FastRP.FastRPConfig(embeddingDimension = 32,
        iterationWeights = Seq(1.0, 1.0))
      val a = FastRP.run(g, cfg)
      val b = FastRP.run(g, cfg)
      val digest = (df: org.apache.spark.sql.DataFrame) => df.select(col("id"),
        graft.core.Num.roundTo(aggregate(col("embedding"), lit(0.0), (x, v) => x + v * v), 6).as("sq"))
      val badDims = a.filter(size(col("embedding")) =!= 32).count()
      val nonFinite = a.filter(exists(col("embedding"),
        v => isnan(v) || v === Double.PositiveInfinity || v === Double.NegativeInfinity)).count()
      val unstable = digest(a).join(digest(b), Seq("id", "sq"), "left_anti").count()
      val nodes = a.count()
      val spark = s; import spark.implicits._
      Seq((nodes, badDims, nonFinite, unstable))
        .toDF("nodes", "bad_dims", "non_finite", "digest_mismatch")
    }),
    "q_fastrp_extended" -> ((s, dir) => {
      // gds.beta.fastRPExtended validity projection (FastRP.java:155-167,
      // 325-340 — the RNG stream is engine-specific): the trailing
      // propertyDimension dims are fed ONLY by feature projections (all-zero
      // features => exactly-zero trailing dims through every propagation
      // round), base dims stay populated, runs are deterministic, unit
      // norms hold for a single unit iteration weight, and embeddings
      // respond to feature values.
      val g0 = denseGraph(s, dir)
      val g1 = g0.copy(edges = g0.orientedEdges(graft.core.Orientation.Undirected))
      val feat = (pmod(col("id"), lit(7)) + lit(1)).cast("double")
      val gf = g1.copy(vertices = g1.vertices.withColumn("feat", feat))
      val gz = g1.copy(vertices = g1.vertices.withColumn("feat", lit(0.0)))
      val cfg = FastRP.FastRPConfig(embeddingDimension = 32,
        iterationWeights = Seq(1.0), featureProperties = Seq("feat"),
        propertyDimension = 8)
      val a = FastRP.run(gf, cfg)
      val b = FastRP.run(gf, cfg)
      val z = FastRP.run(gz, cfg)
      val digest = (df: org.apache.spark.sql.DataFrame) => df.select(col("id"),
        graft.core.Num.roundTo(aggregate(col("embedding"), lit(0.0),
          (x, v) => x + v * v), 6).as("sq"),
        graft.core.Num.roundTo(element_at(col("embedding"), 1), 6).as("e0"))
      val nodes = a.count()
      val badDims = a.filter(size(col("embedding")) =!= 32).count()
      val nonFinite = a.filter(exists(col("embedding"),
        v => isnan(v) || v === Double.PositiveInfinity || v === Double.NegativeInfinity)).count()
      // norms: 1 for aggregating nodes, 0 for in-isolated ones — nothing else
      val badNorm = a.select(sqrt(aggregate(col("embedding"), lit(0.0),
          (x, v) => x + v * v)).as("n"))
        .filter(col("n") =!= 0.0 && abs(col("n") - 1.0) > 1e-9).count()
      val trailingLeak = z.filter(exists(
        slice(col("embedding"), 25, 8), v => v =!= 0.0)).count()
      val baseDead = z.filter(!exists(
        slice(col("embedding"), 1, 24), v => v =!= 0.0)).count()
      val unstable = digest(a).join(digest(b), Seq("id", "sq", "e0"), "left_anti").count()
      // all-zero vs real features must change every embedding (full-array
      // compare: with reference-parity unnormalized init vectors, a single
      // base DIM can legitimately be 0 in both runs, so a dim-0-only digest
      // under-discriminates)
      val emb6 = (df: org.apache.spark.sql.DataFrame) => df.select(col("id"),
        transform(col("embedding"), v => graft.core.Num.roundTo(v, 6)).as("emb"))
      val featInsensitive = emb6(a)
        .join(emb6(z).withColumnRenamed("emb", "embz"), "id")
        .filter(col("emb") === col("embz")).count()
      val spark = s; import spark.implicits._
      Seq((nodes, badDims, nonFinite, badNorm, trailingLeak, baseDead,
        unstable, featInsensitive))
        .toDF("nodes", "bad_dims", "non_finite", "bad_norm", "trailing_leak",
          "base_dead", "digest_mismatch", "feat_insensitive")
    }),
    "q_node_classification" -> ((s, dir) => {
      // strong per-node oracle: one-hot separable features => multiclass LR
      // must recover the exact labeling rule (id<150 -> 0 else 1)
      val g = mlGraph(s)
      val m = graft.ml.NodeClassification.train(g, "emb", "cls")
      graft.ml.NodeClassification.predict(g, "emb", m)
        .select(col("id"), col("predictedClass").as("predicted_class"))
    }),
    "q_nc_select" -> ((s, dir) => {
      // NC model selection (reference NodeClassificationTrain.java:
      // stratified k-fold CV over candidate params, winner = best mean
      // validation metric, retrained on the train split). Candidate 0 is
      // the null model (0 GD steps -> predicts the smallest class
      // everywhere); candidate 1 learns the separable one-hot rule, so the
      // winner, its perfect fold scores, and all holdout metrics are exact.
      val g = mlGraph(s)
      val m = graft.ml.NodeClassification.train(g, "emb", "cls",
        graft.ml.NodeClassification.NcConfig(
          params = Seq(
            graft.ml.LogisticRegression.LrConfig(maxIterations = 0),
            graft.ml.LogisticRegression.LrConfig(maxIterations = 120,
              learningRate = 1.0)),
          validationFolds = 3, metric = "F1_WEIGHTED"))
      val stats = m.validationStats
      val spark = s; import spark.implicits._
      Seq((m.winner.toLong, stats.size.toLong,
           stats(1).avg, stats(1).min, stats(1).max,
           stats(0).avg < 0.5,
           m.holdoutMetrics("ACCURACY"), m.holdoutMetrics("F1_WEIGHTED"),
           m.holdoutMetrics("F1_MACRO"), m.trainAccuracy))
        .toDF("winner", "n_candidates", "win_avg", "win_min", "win_max",
          "null_model_worse", "acc", "f1_weighted", "f1_macro", "train_acc")
    }),
    "q_link_prediction" -> ((s, dir) => {
      // validity projection: model quality bounds + structural properties of
      // the top-N scored pairs (the exact ranking depends on GD arithmetic,
      // but on one-hot cluster features every learned top pair must be
      // intra-cluster and not an existing edge)
      val g = mlGraph(s)
      val m = graft.ml.LinkPrediction.train(g, "emb")
      val top = graft.ml.LinkPrediction.predict(g, m, "emb", 50).persist()
      val badCluster = top.filter((col("src") < 150) =!= (col("dst") < 150)).count()
      val existing = top.join(g.edges.select("src", "dst"), Seq("src", "dst"),
        "left_semi").count()
      val badProb = top.filter(col("probability") < 0.0 ||
        col("probability") > 1.0 || isnan(col("probability"))).count()
      val nTop = top.count()
      top.unpersist(false)
      val spark = s; import spark.implicits._
      Seq((nTop, badCluster, existing, badProb,
           m.trainAccuracy > 0.8, m.testAccuracy > 0.7))
        .toDF("top_pairs", "cross_cluster", "already_edges", "bad_prob",
          "train_acc_ok", "test_acc_ok")
    }),
    "q_lp_pipeline" -> ((s, dir) => {
      // staged link-prediction pipeline lifecycle (gds.alpha.ml.pipeline.
      // linkPrediction.*): create -> addNodeProperty(degree) -> addFeature
      // -> configureSplit -> configureParams(2 candidates, one deliberately
      // underfit) -> train (model selection on the held-out split) ->
      // predict. Validity projection: the winner must be the real
      // candidate, accuracy bounded, top pairs intra-cluster non-edges.
      val g = mlGraph(s)
      val spark = s; import spark.implicits._
      graft.ml.LinkPipeline.drop("lp_pipe")
      graft.ml.ModelCatalog.drop("lp_pipe_model")
      graft.ml.LinkPipeline.create("lp_pipe")
      // fastRP mutate step feeds an L2 feature block: unit-norm embeddings
      // keep every feature in [-2,2], so both LR candidates stay stable
      graft.ml.LinkPipeline.addNodeProperty("lp_pipe", "fastRP", "frp",
        Map("embeddingDimension" -> "8"))
      graft.ml.LinkPipeline.addFeature("lp_pipe",
        graft.ml.LinkPrediction.Combiner.Hadamard, Seq("emb"))
      graft.ml.LinkPipeline.addFeature("lp_pipe",
        graft.ml.LinkPrediction.Combiner.L2, Seq("frp"))
      graft.ml.LinkPipeline.configureSplit("lp_pipe",
        graft.ml.LinkPipeline.SplitCfg(testFraction = 0.25, seed = 7L))
      graft.ml.LinkPipeline.configureParams("lp_pipe", Seq(
        graft.ml.LogisticRegression.LrConfig(maxIterations = 1, learningRate = 0.01),
        graft.ml.LogisticRegression.LrConfig(maxIterations = 120, learningRate = 1.0)))
      val m = graft.ml.LinkPipeline.train(g, "lp_pipe", "lp_pipe_model")
      val top = graft.ml.LinkPipeline.predict(g, "lp_pipe_model", 50).persist()
      val badCluster = top.filter((col("src") < 150) =!= (col("dst") < 150)).count()
      val existing = top.join(g.edges.select("src", "dst"), Seq("src", "dst"),
        "left_semi").count()
      val nTop = top.count()
      top.unpersist(false)
      val inCatalog = graft.ml.ModelCatalog.exists("lp_pipe_model")
      graft.ml.LinkPipeline.drop("lp_pipe")
      graft.ml.ModelCatalog.drop("lp_pipe_model")
      Seq((nTop, badCluster, existing, m.winner.toLong, m.dims.toLong,
           m.testAccuracy >= 0.7, inCatalog))
        .toDF("top_pairs", "cross_cluster", "already_edges", "winner",
          "dims", "test_acc_ok", "in_catalog")
    }),
    "q_graphsage" -> ((s, dir) => {
      // validity projection (SGD arithmetic engine-specific): dims, unit
      // norm, finiteness, determinism of the distributed forward pass, and
      // the embedding must separate the two clusters on average
      val g = mlGraph(s)
      val cfg = GraphSage.GraphSageConfig(embeddingDimension = 8,
        hiddenDimension = 8, epochs = 30, sampleNodes = 300)
      val (model, losses) = GraphSage.train(g, "emb", cfg)
      val a = GraphSage.predict(g, "emb", model).persist()
      val b = GraphSage.predict(g, "emb", model)
      val nodes = a.count()
      val badDims = a.filter(size(col("embedding")) =!= 8).count()
      val nonFinite = a.filter(exists(col("embedding"),
        v => isnan(v) || v === Double.PositiveInfinity || v === Double.NegativeInfinity)).count()
      val badNorm = a.filter(abs(aggregate(col("embedding"), lit(0.0),
        (x, v) => x + v * v) - 1.0) > 1e-9).count()
      val digest = (df: DataFrame) => df.select(col("id"),
        graft.core.Num.roundTo(aggregate(col("embedding"), lit(0.0), (x, v) => x + v), 6).as("d"))
      val unstable = digest(a).join(digest(b), Seq("id", "d"), "left_anti").count()
      // mean intra-cluster cosine > mean cross-cluster cosine
      val pairs = a.select(col("id").as("ia"), col("embedding").as("ea"))
        .join(a.select(col("id").as("ib"), col("embedding").as("eb")),
          col("ia") < col("ib"))
        .select((col("ia") < 150) === (col("ib") < 150) as "intra",
          aggregate(zip_with(col("ea"), col("eb"), (x, y) => x * y),
            lit(0.0), (x, v) => x + v).as("cos"))
      val sep = pairs.groupBy("intra").agg(avg("cos").as("m"))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      a.unpersist(false)
      val spark = s; import spark.implicits._
      Seq((nodes, badDims, nonFinite, badNorm, unstable,
           losses.head > losses.last, sep(true) > sep(false)))
        .toDF("nodes", "bad_dims", "non_finite", "bad_norm",
          "digest_mismatch", "loss_decreased", "clusters_separated")
    }),
    "q_node2vec" -> ((s, dir) => {
      // validity projection (walks hash-seeded, Word2Vec SGD engine-specific;
      // neither is SQL-replayable): every consecutive walk transition is a
      // real edge, every node starts walksPerNode walks, embeddings have the
      // configured dimension, are finite, and cover every walked node.
      val g = denseGraph(s, dir)
      val cfg = Node2Vec.Node2VecConfig(embeddingDimension = 16,
        walkLength = 6, walksPerNode = 2, returnFactor = 0.5,
        inOutFactor = 2.0, windowSize = 3, rejectionRounds = 4)
      val r = Node2Vec.run(g, cfg)
      val walks = r.walks
      val trans = walks.select(col("walkId"), col("step"), col("nodeId"))
        .join(walks.select(col("walkId"), (col("step") - 1).as("step"),
          col("nodeId").as("next")), Seq("walkId", "step"))
      val invalid = trans.join(
          g.edges.select(col("src").as("nodeId"), col("dst").as("next")).distinct(),
          Seq("nodeId", "next"), "left_anti").count()
      val nWalks = walks.filter(col("step") === 0).count()
      val badDims = r.embeddings.filter(size(col("embedding")) =!= 16).count()
      val nonFinite = r.embeddings.filter(exists(col("embedding"),
        v => isnan(v) || v === Double.PositiveInfinity || v === Double.NegativeInfinity)).count()
      val missing = walks.select(col("nodeId").as("id")).distinct()
        .join(r.embeddings, Seq("id"), "left_anti").count()
      val spark = s; import spark.implicits._
      Seq((invalid, nWalks, badDims, nonFinite, missing))
        .toDF("invalid_transitions", "walks", "bad_dims", "non_finite",
          "missing_embeddings")
    }),
    "q_knn" -> ((s, dir) => knnQuery(s, dir, tail = 25000L)),
    "q_lsh_topk" -> ((s, dir) => {
      // planted-copy recall check: queries are exact copies of vectors 0..4
      // under new ids; identical vectors share every LSH bucket, so top-1
      // must be the original at cosine 1.0 (no other pair in this corpus
      // exceeds 0.52) — making the approximate index exactly checkable.
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Ann.lshTopK(planted, e.unionByName(planted), k = 1)
        .filter(col("neighbor_id") < 1000000L)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id")
    }),
    "q_ivf_topk" -> ((s, dir) => {
      // planted-copy recall check for the IVF coarse quantizer: identical
      // vectors land in the same cell and every query probes its own cell
      // first, so top-1 must be the original at cosine 1.0 — the same
      // oracle-exact construction as q_lsh_topk
      val e = table(s, dir, "embeddings").select("vec_id", "embedding")
      val planted = e.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Ann.ivfTopK(planted, e.unionByName(planted), k = 1)
        .filter(col("neighbor_id") < 1000000L)
        .select("query_id", "neighbor_id", "cosine", "rank")
        .orderBy("query_id")
    }),
    "q_cosine_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup over a corpus with planted duplicates:
      // scaled copies (exactly collinear -> cosine 1.0, sharing every
      // hyperplane bucket by construction) and 98/2 blends (cosine ~0.9998).
      // All non-planted pairs in the synthetic corpus sit below 0.52, so the
      // LSH-bucketed + exact-cosine pipeline must emit exactly the
      // brute-force pair set >= 0.8 the oracle replays.
      val base = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
      val scaled = base.filter(col("vec_id") < 150)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("e"), x => x * lit(1.25)).as("e"))
      val blends = base.filter(col("vec_id") >= 150 && col("vec_id") < 300).alias("ba")
        .join(base.alias("bb"), col("ba.vec_id") - 150 === col("bb.vec_id"))
        .select((col("ba.vec_id") + 2000000L).as("vec_id"),
          zip_with(col("ba.e"), col("bb.e"),
            (x, y) => x * lit(0.98) + y * lit(0.02)).as("e"))
      Ann.cosineNearDuplicates(base.unionByName(scaled).unionByName(blends),
          threshold = 0.8, vecCol = "e")
        .orderBy("id_a", "id_b")
    }),
    "q_media_features" -> ((s, _) =>
      // scalar digests of the embedding (sum/first) — the raw array<float>
      // is not hashable by the driver compare. The stub codec is
      // SQL-replayable (48-bit seed from the first 6 payload bytes → 31-bit
      // LCG, see Multimodal.StubCodec), so the oracle recomputes dims and
      // both digests from sha256("media<id>") independently.
      Multimodal.extractFeatures(Multimodal.decodeImages(Multimodal.synthMedia(s, 200)))
        .select(col("media_id"), col("kind"), col("width"), col("height"),
          col("channels"),
          graft.core.Num.roundTo(aggregate(col("embedding"), lit(0.0),
            (a, v) => a + v.cast("double")), 4).as("emb_sum"),
          graft.core.Num.roundTo(element_at(col("embedding"), 1).cast("double"), 6).as("emb_first"))
        .orderBy("media_id")),
    "q_media_valid" -> ((s, _) => {
      // oracle-checkable invariants of the multimodal pipeline: row count
      // preserved, decoded dims within codec bounds, embeddings complete
      // (64 finite floats each).
      val feats = Multimodal.extractFeatures(
        Multimodal.decodeImages(Multimodal.synthMedia(s, 200)))
      feats.agg(
        count(lit(1)).as("rows_total"),
        sum(when(col("width").between(1, 1920) && col("height").between(1, 1080)
          && col("channels") === 3, 0).otherwise(1)).as("bad_dims"),
        sum(when(size(col("embedding")) === 64, 0).otherwise(1)).as("bad_embeddings"))
    }),
    "q_media_decode" -> ((s, dir) => {
      // REAL image codec end-to-end (javax.imageio, no stub): solid-color
      // PNGs with SQL-replayable construction arithmetic are encoded on
      // executors, then DECODED back — width/height/band-count and exact
      // per-channel means must equal the construction numbers. The oracle
      // can't parse PNG; it replays the arithmetic, so any decode defect
      // (wrong dims, channel order, color management) breaks the match.
      val ids = table(s, dir, "customer").filter(col("c_custkey") < 200)
        .select(col("c_custkey").as("id"))
      Multimodal.imageStats(Multimodal.synthPngs(ids))
        .select(col("media_id"), col("width"), col("height"), col("channels"),
          graft.core.Num.roundTo(col("mean_r"), 6).as("mean_r"),
          graft.core.Num.roundTo(col("mean_g"), 6).as("mean_g"),
          graft.core.Num.roundTo(col("mean_b"), 6).as("mean_b"))
        .orderBy("media_id")
    }),
    "q_generate" -> ((s, _) => {
      // validity projection of gds.beta.graph.generate (the draws are
      // engine-hash-specific): uniform degree exactness, power-law target
      // bounds, cross-run determinism, property-producer ranges.
      import graft.io.GraphGenerate
      import graft.io.GraphGenerate.Distribution
      val u = GraphGenerate.edges(s, 500L, 4L, Distribution.Uniform, seed = 11L)
      val uniformEdges = u.count()
      val uniformBad = u.groupBy("src").count().filter(col("count") =!= 4L).count()
      def digest(df: org.apache.spark.sql.DataFrame): Long =
        df.agg(sum(col("src") * 31 + col("dst"))).first().getLong(0)
      val p1 = GraphGenerate.edges(s, 500L, 4L, Distribution.PowerLaw, seed = 11L)
      val badTargets = p1.filter(col("dst") < 1L || col("dst") > 499L).count()
      val det = digest(p1) ==
        digest(GraphGenerate.edges(s, 500L, 4L, Distribution.PowerLaw, seed = 11L))
      val g = GraphGenerate.graph(s, 200L, 3L, Distribution.Random, 7L,
        Seq(GraphGenerate.RandomDouble("x", -1.0, 1.0)))
      val badProps = g.vertices.filter(col("x") < -1.0 || col("x") >= 1.0).count()
      val spark = s; import spark.implicits._
      Seq((uniformEdges, uniformBad, badTargets, if (det) 1L else 0L, badProps))
        .toDF("uniform_edges", "uniform_degree_violations",
          "powerlaw_target_violations", "deterministic", "property_violations")
    }),
    "q_pages_wcc" -> ((s, _) => {
      // invariant projection of WCC over the synthetic web graph: component
      // sizes partition all 3000 pages, and the power-law corpus forms one
      // giant component holding >90% of pages.
      val graph = graft.io.Pages.toGraph(graft.io.Pages.synth(s, 3000L))
      val sizes = Wcc.run(graph).components
        .groupBy("componentId").agg(count(lit(1)).as("size"))
      sizes.agg(
        sum("size").as("nodes_total"),
        max("size").as("giant_size"),
        (max("size") > lit(2700L)).as("has_giant"))
        .select(col("nodes_total"), col("has_giant"))
    }),

    "q_url_canon" -> ((s, dir) => {
      // URL canonicalization + host extraction (crawl-dedup keying) over
      // deterministic messy urls: mixed-case scheme/host, default ports,
      // userinfo, fragments. Exact SQL oracle replays every regexp.
      val o = table(s, dir, "orders")
      val url = concat(
        when(col("o_orderkey") % 2 === 0,
          concat(lit("HTTP://Host-"), (col("o_custkey") % 50).cast("string"),
                 lit(".Example:80/Path/")))
          .otherwise(concat(lit("https://User@host-"),
                 (col("o_custkey") % 50).cast("string"), lit(".example:443/Path/"))),
        col("o_orderkey").cast("string"),
        when(col("o_orderkey") % 3 === 0, lit("#frag")).otherwise(lit("")))
      o.select(url.as("url"))
        .select(col("url"),
          graft.io.Pages.canonicalizeUrl(col("url")).as("canon"),
          graft.io.Pages.hostOf(col("url")).as("host"))
        .orderBy("url")
    }),
    "q_host_graph" -> ((s, dir) => {
      // page-level link table -> host-level edge table (the Common-Crawl
      // host-graph derivation): one map-side-combined groupBy on the host
      // pair. Deterministic urls from orders; exact SQL oracle.
      val o = table(s, dir, "orders")
      val links = o.select(
        concat(lit("https://h"), (col("o_custkey") % 40).cast("string"),
               lit(".example/p/"), col("o_orderkey").cast("string")).as("url"),
        concat(lit("https://h"), ((col("o_orderkey") * 7 + col("o_custkey")) % 40).cast("string"),
               lit(".example/q/"), (col("o_orderkey") % 100).cast("string")).as("href"))
      graft.io.Pages.hostGraph(links).orderBy("src_host", "dst_host")
    }),

    "q_anchor_text" -> ((s, dir) => {
      // anchor-text extraction + per-target profile: html is BUILT by
      // concat arithmetic, parsed back by the regex path, and the oracle
      // derives (href, anchor) straight from the same arithmetic — the
      // regex extraction is verified against arithmetic ground truth, not
      // against itself.
      val o = table(s, dir, "orders").filter(col("o_orderkey") < 2000)
      val url = concat(lit("https://h"), (col("o_custkey") % 20).cast("string"),
        lit(".example/p/"), col("o_orderkey").cast("string"))
      def target(t: org.apache.spark.sql.Column) =
        concat(lit("https://t"), (t % 10).cast("string"),
          lit(".example/d/"), t.cast("string"))
      val t1 = col("o_orderkey") % 50
      val t2 = (col("o_orderkey") * 3 + col("o_custkey")) % 50
      val html = concat(
        lit("<html><body><a href=\""), target(t1), lit("\">doc "),
        t1.cast("string"), lit("</a> and <a href=\""), target(t2),
        lit("\"> doc "), t2.cast("string"), lit(" </a></body></html>"))
      val pages = o.select(url.as("url"), html.cast("binary").as("html"))
      graft.io.Pages.anchorProfile(pages).orderBy("href", "anchor")
    }),

    // --- spanning trees (exact oracle: path-with-heavy-chords graph) ---
    "q_spanning_tree" -> ((s, dir) => spanningTreeQuery(s, dir, localSolve = 100000L)),
    "q_kspanning" -> ((s, dir) => kspanningQuery(s, dir, localSolve = 100000L)),

    // --- overlapping communities (SLLPA) ---
    "q_sllpa" -> ((s, dir) => sllpaQuery(s, dir, tail = 500000L)),

    // --- influence maximization (exact oracle on a star at p = 1.0) ---
    "q_influence_max" -> ((s, dir) => {
      // hub 0 -> every customer: with p=1 every reverse-reachable set
      // contains the hub, so RIS-greedy must pick it first and cover
      // everything — seed list and spread are exactly computable in SQL.
      val c = table(s, dir, "customer")
      val edges = c.select(lit(0L).as("src"), col("c_custkey").as("dst"))
      val g = PropertyGraph(GraphOps.verticesOf(edges), edges)
      InfluenceMaximization.run(g, k = 2, p = 1.0, samples = 50)
        .seeds.select(col("rank").as("seed_rank"), col("nodeId"),
          graft.core.Num.roundTo(col("spreadGain"), 6).as("spread"))
        .orderBy("seed_rank")
    }),

    // --- approximate max k-cut ---
    "q_maxkcut" -> ((s, dir) => maxkcutQuery(s, dir, tail = 500000L)),

    // --- remaining procedure surface, driver-verified (round 2) ---
    "q_pagerank_personalized" -> ((s, dir) => {
      // personalized PageRank (sourceNodes init: alpha at sources, 0
      // elsewhere — reference PageRankComputation.java:71-77); exact
      // unrolled oracle.
      val r = PageRank.run(ordersGraph(s, dir), PageRankConfig(tolerance = 0.0,
        maxIterations = 6, sourceNodes = Seq(0L, 7L, 42L)))
      r.scores.select(col("id"), graft.core.Num.roundTo(col("score"), 6).as("score")).orderBy("id")
    }),
    "q_wcc_seeded" -> ((s, dir) => {
      // seeded WCC (seedProperty init comp = least(id, seed), reference
      // incremental-seeding surface); exact unrolled hash-min oracle.
      val g0 = ordersGraph(s, dir)
      val g = g0.copy(vertices = g0.vertices.withColumn("seed", col("id") % 7))
      Wcc.run(g, WccConfig(seedProperty = Some("seed"))).components.orderBy("id")
    }),
    "q_articlerank" -> ((s, dir) => {
      // ArticleRank = PageRank with degree function deg+avgDeg and delta
      // coefficient avgDeg (reference PageRankAlgorithmFactory.java:103-108);
      // exact loop-unrolled oracle.
      val r = PageRank.articleRank(ordersGraph(s, dir),
        PageRankConfig(tolerance = 0.0, maxIterations = 6))
      r.scores.select(col("id"), graft.core.Num.roundTo(col("score"), 6).as("score")).orderBy("id")
    }),
    "q_triangles_stream" -> ((s, dir) =>
      // gds.alpha.triangles: the actual (a,b,c) triples, a < b < c
      TriangleCount.triangleStream(denseGraph(s, dir)).orderBy("a", "b", "c")),
    "q_wcc_threshold" -> ((s, dir) =>
      // weight-thresholded WCC (union only edges with weight > 4, strict —
      // reference Wcc.java DirectedUnionWithThresholdTask); vertices below
      // the threshold stay as singleton components.
      Wcc.run(ordersWeightedGraph(s, dir), WccConfig(threshold = Some(4.0)))
        .components.orderBy("id")),
    "q_scale_properties" -> ((s, dir) => {
      // all 7 reference scalers (ScalarScaler.java:55-122) over c_acctbal
      // (Log over the positive c_custkey+1 column); exact SQL oracle.
      val c = table(s, dir, "customer")
      val base = c.select(col("c_custkey").as("id"),
        col("c_acctbal").cast("double").as("v"),
        (col("c_custkey") + 1).cast("double").as("p"))
      def scaled(sc: Scaler, out: String, in: String = "v") =
        Scaler.apply(sc, base.select(col("id"), col(in).as(out)), out)
      def r6(c: org.apache.spark.sql.Column) = graft.core.Num.roundTo(c, 6)
      scaled(Scaler.MinMax, "minmax")
        .join(scaled(Scaler.Max, "maxabs"), "id")
        .join(scaled(Scaler.Mean, "meanscaled"), "id")
        .join(scaled(Scaler.StdScore, "stdscore"), "id")
        .join(scaled(Scaler.L1Norm, "l1"), "id")
        .join(scaled(Scaler.L2Norm, "l2"), "id")
        .join(scaled(Scaler.Log, "logp", "p"), "id")
        .select(col("id"), r6(col("minmax")).as("minmax"),
          r6(col("maxabs")).as("maxabs"), r6(col("meanscaled")).as("meanscaled"),
          r6(col("stdscore")).as("stdscore"),
          graft.core.Num.roundTo(col("l1"), 9).as("l1"), r6(col("l2")).as("l2"),
          r6(col("logp")).as("logp"))
        .orderBy("id")
    }),
    "q_alpha_similarity" -> ((s, dir) => {
      // alpha similarity PROC semantics (gds.alpha.similarity.*.stream):
      // per-source topK (both directions, ties -> smaller node2), cutoff
      // streams, euclidean = ascending distance. Exact SQL oracle: length-4
      // integer vectors from c_custkey, same left-assoc fold order.
      val c = table(s, dir, "customer").filter(col("c_custkey") <= 30)
      val k = col("c_custkey")
      val va = array((0 until 4).map(i => ((k * (i + 1)) % 17 + 1).cast("double")): _*)
      val data = c.select(k.cast("long").as("id"), va.as("vec"))
      import graft.algo.AlphaSimilarity
      import graft.algo.AlphaSimilarity.{Metric, SimConfig}
      def r6(x: org.apache.spark.sql.Column) = graft.core.Num.roundTo(x, 6)
      val cosTop = AlphaSimilarity.stream(data, "id", "vec", Metric.Cosine,
          SimConfig(topK = 3))
        .select(lit("cosine").as("metric"), col("node1"), col("node2"),
          r6(col("similarity")).as("similarity"))
      val eucCut = AlphaSimilarity.stream(data, "id", "vec", Metric.Euclidean,
          SimConfig(similarityCutoff = 6.0))
        .select(lit("euclidean").as("metric"), col("node1"), col("node2"),
          r6(col("similarity")).as("similarity"))
      val peaCut = AlphaSimilarity.stream(data, "id", "vec", Metric.Pearson,
          SimConfig(similarityCutoff = 0.5))
        .select(lit("pearson").as("metric"), col("node1"), col("node2"),
          r6(col("similarity")).as("similarity"))
      cosTop.unionByName(eucCut).unionByName(peaCut)
        .orderBy("metric", "node1", "node2")
    }),
    "q_similarity_fns" -> ((s, dir) => {
      // gds.alpha.similarity.* scalar functions, exact SQL oracle: vector
      // metrics over integer-valued length-4 arrays, set metrics over small
      // category lists — all derived deterministically from c_custkey.
      val c = table(s, dir, "customer")
      val k = col("c_custkey")
      val va = array((0 until 4).map(i => ((k * (i + 1)) % 17 + 1).cast("double")): _*)
      val vb = array((0 until 4).map(i => (((k + 1) * (i + 2)) % 19 + 1).cast("double")): _*)
      val ca = array(k % 5, k % 7, k % 11)
      val cb = array((k + 1) % 5, (k + 1) % 7, (k + 1) % 11)
      import graft.functions.Similarity
      def r6(c: org.apache.spark.sql.Column) = graft.core.Num.roundTo(c, 6)
      c.select(k.as("id"),
        r6(Similarity.cosine(va, vb)).as("cosine"),
        r6(Similarity.euclideanDistance(va, vb)).as("euclidean_dist"),
        r6(Similarity.euclideanSimilarity(va, vb)).as("euclidean_sim"),
        r6(Similarity.pearson(va, vb)).as("pearson"),
        r6(Similarity.jaccard(ca, cb)).as("jaccard"),
        r6(Similarity.overlap(ca, cb)).as("overlap"))
        .orderBy("id")
    }),
    "q_linkpred_fns" -> ((s, dir) => {
      // closed-form link-prediction functions (gds.alpha.linkprediction.*)
      // over the dense graph's undirected neighbor sets for pairs (i, i+1);
      // exact SQL oracle via joins.
      val g = denseGraph(s, dir)
      val und = GraphOps.canonicalUndirected(g.edges)
      val nbr = und.select(col("lo").as("id"), col("hi").as("nb"))
        .unionByName(und.select(col("hi").as("id"), col("lo").as("nb")))
      val sets = nbr.groupBy("id").agg(sort_array(collect_set("nb")).as("ns"))
      val pairs = s.range(299).select(col("id").as("a"), (col("id") + 1).as("b"))
      import graft.functions.Similarity
      def r6(c: org.apache.spark.sql.Column) = graft.core.Num.roundTo(c, 6)
      val aa = Similarity.adamicAdar(nbr, pairs)
        .select(col("a"), col("b"), col("score").as("aa"))
      val ra = Similarity.resourceAllocation(nbr, pairs)
        .select(col("a"), col("b"), col("score").as("ra"))
      // community property: id % 7, missing (null) on multiples of 13 —
      // exercises sameCommunity's missing-property -> 0.0 path
      def comm(c: org.apache.spark.sql.Column) =
        when(c % 13 === 0, lit(null)).otherwise(c % 7)
      pairs
        .join(sets.select(col("id").as("a"), col("ns").as("na")), "a")
        .join(sets.select(col("id").as("b"), col("ns").as("nbv")), "b")
        .join(aa, Seq("a", "b")).join(ra, Seq("a", "b"))
        .select(col("a"), col("b"),
          r6(Similarity.commonNeighbors(col("na"), col("nbv"))).as("common_neighbors"),
          r6(Similarity.totalNeighbors(col("na"), col("nbv"))).as("total_neighbors"),
          r6(Similarity.preferentialAttachment(col("na"), col("nbv"))).as("pref_attachment"),
          r6(Similarity.jaccard(col("na"), col("nbv"))).as("jaccard"),
          r6(col("aa")).as("adamic_adar"),
          r6(col("ra")).as("resource_alloc"),
          Similarity.sameCommunity(comm(col("a")), comm(col("b"))).as("same_community"))
        .orderBy("a")
    }),
    "q_split_rels" -> ((s, dir) => {
      // gds.alpha.ml.splitRelationships.mutate: deterministic holdout /
      // remaining split + LCG negative sampling over the dense graph's
      // distinct directed edges; exact SQL oracle replays the md5 draw and
      // the arithmetic candidate generator.
      val g = denseGraph(s, dir)
      val e = g.edges.select(col("src"), col("dst")).distinct()
      graft.ml.SplitRelationships.split(e, g.vertices,
        graft.ml.SplitRelationships.SplitConfig(
          holdoutFraction = 0.2, negativeSamplingRatio = 1.0, seed = 7L))
        .orderBy("split", "label", "src", "dst")
    }),
    // Execution modes (stream/stats/mutate/write — SURVEY §2 #14), split into
    // three single-purpose queries so one fragile step can't blank the whole
    // surface in the driver compare (round 2 shipped them as one combined
    // q_exec_modes, which dumped and oracled fine locally at sf0.01 but was
    // dropped from CORRECTNESS_r02 by something driver-side). Each digest
    // derives from the same PageRank run the exact pagerankSql oracle replays.
    "q_exec_stats" -> ((s, dir) => {
      val gds = new graft.api.Gds(s)
      val g = ordersGraph(s, dir)
      gds.graph.create("em_stats_g", g.vertices, g.edges)
      val st = gds.pageRank.stats("em_stats_g",
        PageRankConfig(tolerance = 0.0, maxIterations = 8))
      gds.graph.drop("em_stats_g")
      def r6(x: Double) = math.floor(x * 1e6 + 0.5 + 1e-6) / 1e6
      val spark = s; import spark.implicits._
      Seq((st.getLong(0), r6(st.getDouble(1)), r6(st.getDouble(2))))
        .toDF("stats_count", "stats_min", "stats_max")
    }),
    "q_exec_mutate" -> ((s, dir) => {
      val gds = new graft.api.Gds(s)
      val g = ordersGraph(s, dir)
      gds.graph.create("em_mut_g", g.vertices, g.edges)
      gds.pageRank.mutate("em_mut_g", "pr",
        PageRankConfig(tolerance = 0.0, maxIterations = 8))
      val props = gds.graph.streamNodeProperties("em_mut_g", Seq("pr"))
      val pr6 = graft.core.Num.roundTo(col("pr"), 6)
      val out = props.agg(count(col("pr")).as("mutated_rows"),
        graft.core.Num.roundTo(sum(pr6), 4).as("prop_sum"),
        graft.core.Num.roundTo(avg(pr6), 4).as("prop_mean"))
        .select(col("mutated_rows"), col("prop_sum"), col("prop_mean"))
      val collected = out.collect()(0)
      gds.graph.drop("em_mut_g")
      val spark = s; import spark.implicits._
      Seq((collected.getLong(0), collected.getDouble(1), collected.getDouble(2)))
        .toDF("mutated_rows", "prop_sum", "prop_mean")
    }),
    "q_exec_write" -> ((s, dir) => {
      val gds = new graft.api.Gds(s)
      val g = ordersGraph(s, dir)
      gds.graph.create("em_wr_g", g.vertices, g.edges)
      val wdir = java.nio.file.Files.createTempDirectory("graft-em-write").toString
      gds.pageRank.write("em_wr_g", wdir,
        PageRankConfig(tolerance = 0.0, maxIterations = 8))
      val back = graft.io.SnapshotStore.read(s, wdir)
      val bd = back.agg(count(lit(1)).as("n"),
        graft.core.Num.roundTo(sum(graft.core.Num.roundTo(col("score"), 6)), 4).as("ws"))
        .collect()(0)
      gds.graph.drop("em_wr_g")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(wdir))
      val spark = s; import spark.implicits._
      Seq((bd.getLong(0), bd.getDouble(1))).toDF("written_rows", "written_sum")
    }),
    "q_catalog" -> ((s, dir) => {
      // graph-catalog lifecycle: createFromSql (the cypher-projection
      // analogue), exists/list, subgraph, property stream/remove,
      // relationship write/stream/delete, drop — one SQL-checkable digest.
      val gds = new graft.api.Gds(s)
      table(s, dir, "customer").createOrReplaceTempView("cat_customer")
      gds.graph.createFromSql("cat_g",
        "SELECT c_custkey AS id, c_acctbal FROM cat_customer",
        "SELECT c_custkey AS src, " +
          "(c_custkey * 3 + 1) % (SELECT count(*) FROM cat_customer) AS dst " +
          "FROM cat_customer")
      val existsAfterCreate = gds.graph.exists("cat_g")
      val listed = gds.graph.list().contains("cat_g")
      val sub = gds.graph.subgraph("cat_g", "cat_sub", vertexPredicate = "c_acctbal > 1000")
      val subV = sub.vertices.count(); val subE = sub.edges.count()
      val acct = gds.graph.streamNodeProperties("cat_g", Seq("c_acctbal"))
        .agg(graft.core.Num.roundTo(sum(col("c_acctbal").cast("double")), 0)).first().getDouble(0)
      val propCols = gds.graph.removeNodeProperty("cat_g", "c_acctbal").vertices.columns.length
      val n = table(s, dir, "customer").count()
      val sim = table(s, dir, "customer").select(col("c_custkey").as("src"),
        ((col("c_custkey") + 7) % n).as("dst"))
      val edgesAfterAdd = gds.graph.writeRelationship("cat_g", "SIM", sim).edges.count()
      val simTyped = gds.graph.streamRelationshipProperties("cat_g", Seq("rel_type"))
        .filter(col("rel_type") === "SIM").count()
      val edgesAfterDelete = gds.graph.deleteRelationships("cat_g", "SIM").edges.count()
      val dropped = gds.graph.drop("cat_g") && !gds.graph.exists("cat_g")
      val spark = s; import spark.implicits._
      Seq((existsAfterCreate, listed, subV, subE, acct, propCols.toLong,
           edgesAfterAdd, simTyped, edgesAfterDelete, dropped))
        .toDF("exists_after_create", "listed", "sub_vertices", "sub_edges",
          "acctbal_sum", "vertex_cols_after_remove", "edges_after_add",
          "sim_typed_edges", "edges_after_delete", "dropped")
    }),
    "q_model_catalog" -> ((s, dir) => {
      // model-catalog lifecycle (gds.beta.model.list/exists/drop +
      // gds.alpha.model.store/load): train the deterministic NC model from
      // q_node_classification, register, store (SnapshotStore-backed atomic
      // commit), drop, load back — the round-tripped model must carry
      // identical parameters (doubles serialize losslessly) and predict
      // identically on every node.
      import graft.ml.{ModelCatalog, NodeClassification}
      val gds = new graft.api.Gds(s)
      ModelCatalog.drop("nc_test")
      val g = mlGraph(s)
      val m = NodeClassification.train(g, "emb", "cls")
      gds.model.set("nc_test", m, Map("features" -> "emb"))
      val existsAfterSet = gds.model.exists("nc_test")
      val listed = gds.model.list().exists(i =>
        i.name == "nc_test" && i.modelType == "NodeClassification" &&
          i.meta.get("features").contains("emb"))
      val before = NodeClassification.predict(g, "emb", m)
      val d = java.nio.file.Files.createTempDirectory("graft-models").toString
      try {
        gds.model.store("nc_test", d)
        val dropped = gds.model.drop("nc_test") && !gds.model.exists("nc_test")
        val loadedInfo = gds.model.load("nc_test", d)
        val loaded = gds.model.get[NodeClassification.NcModel]("nc_test")
        val after = NodeClassification.predict(g, "emb", loaded)
        val mismatches = before.withColumnRenamed("predictedClass", "a")
          .join(after.withColumnRenamed("predictedClass", "b"), "id")
          .filter(col("a") =!= col("b")).count()
        val nodes = before.count()
        val paramsOk = loadedInfo.modelType == "NodeClassification" &&
          loaded.classes == m.classes &&
          loaded.trainAccuracy == m.trainAccuracy &&
          loaded.testAccuracy == m.testAccuracy &&
          m.classes.forall(c =>
            loaded.models(c).weights.sameElements(m.models(c).weights) &&
              loaded.models(c).bias == m.models(c).bias)
        gds.model.drop("nc_test")
        val spark = s; import spark.implicits._
        Seq((existsAfterSet, listed, dropped, nodes, mismatches, paramsOk))
          .toDF("exists_after_set", "listed", "dropped", "nodes",
            "predict_mismatches", "params_roundtrip_ok")
      } finally {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }),
    "q_csv_roundtrip" -> ((s, dir) => {
      // gds.beta.graph.export.csv + CSV restore: schema-sidecar roundtrip
      // must preserve counts and the exact edge multiset (checksum).
      val g = denseGraph(s, dir)
      val d = java.nio.file.Files.createTempDirectory("graft-csv-rt").toString
      graft.io.CsvGraphStore.export(g, d)
      val back = graft.io.CsvGraphStore.importGraph(s, d)
      val vN = back.vertices.count()
      val e = back.edges.agg(count(lit(1)).as("n"),
        sum(col("src") * 31 + col("dst")).as("cks")).first()
      val spark = s; import spark.implicits._
      Seq((vN, e.getLong(0), e.getLong(1))).toDF("vertices", "edges", "edge_checksum")
    }),
    "q_bucketed_roundtrip" -> ((s, dir) => {
      // bucketed graph store roundtrip: same counts/checksum contract as the
      // csv/snapshot roundtrips, PLUS the layout guarantee — the src
      // aggregation over the re-loaded edges must plan with no exchange
      // (bucket distribution satisfies it); exchanges found are emitted so
      // the oracle catches a layout regression as a value mismatch.
      val g = denseGraph(s, dir)
      val d = java.nio.file.Files.createTempDirectory("graft-bk-rt").toString
      graft.io.BucketedGraphStore.save(s, g, "q_bk_rt", d,
        buckets = s.sessionState.conf.numShufflePartitions)
      val back = graft.io.BucketedGraphStore.load(s, "q_bk_rt")
      val agg = back.edges.groupBy("src").count()
      val exchanges = "Exchange".r.findAllIn(agg.queryExecution.executedPlan.toString).size
      val vN = back.vertices.count()
      val e = back.edges.agg(count(lit(1)).as("n"),
        sum(col("src") * 31 + col("dst")).as("cks")).first()
      graft.io.BucketedGraphStore.drop(s, "q_bk_rt")
      val spark = s; import spark.implicits._
      Seq((vN, e.getLong(0), e.getLong(1), exchanges.toLong))
        .toDF("vertices", "edges", "edge_checksum", "agg_exchanges")
    }),
    "q_snapshot_roundtrip" -> ((s, dir) => {
      // Iceberg-style snapshot export/import (atomic manifest commit)
      val g = denseGraph(s, dir)
      val d = java.nio.file.Files.createTempDirectory("graft-snap-rt").toString
      graft.io.CsvGraphStore.exportSnapshot(g, d)
      val back = graft.io.CsvGraphStore.importSnapshot(s, d)
      val vN = back.vertices.count()
      val e = back.edges.agg(count(lit(1)).as("n"),
        sum(col("src") * 31 + col("dst")).as("cks")).first()
      val spark = s; import spark.implicits._
      Seq((vN, e.getLong(0), e.getLong(1))).toDF("vertices", "edges", "edge_checksum")
    }),
    "q_warc_roundtrip" -> ((s, dir) => {
      // WARC source/sink (the crawl-native container): documents -> pages
      // -> .warc.gz (one gzip member per record, CC convention) -> read
      // back -> per-url byte/timestamp/lang identity. Digest is exact and
      // oracle-replayable from the documents table alone.
      val docs = table(s, dir, "documents")
      val p = docs.select(
        concat(lit("https://docs.example/"), col("doc_id").cast("string")).as("url"),
        timestamp_seconds(lit(graft.io.Pages.EpochBase) + col("doc_id")).as("warc_ts"),
        concat(lit("<html><body>"), col("text"), lit("</body></html>"))
          .cast("binary").as("html"),
        col("lang"))
      val d = java.nio.file.Files.createTempDirectory("graft-warc-rt").toString
      try {
        graft.io.Warc.write(p, d, compress = true)
        val back = graft.io.Warc.read(s, d)
        val j = p.withColumnRenamed("warc_ts", "ts1").withColumnRenamed("html", "h1")
          .withColumnRenamed("lang", "l1").join(back, "url")
        val r = j.agg(count(lit(1)).as("pages"),
          sum(length(col("html").cast("string"))).as("html_chars"),
          sum(when(col("h1") =!= col("html") || col("ts1") =!= col("warc_ts") ||
            col("l1") =!= col("lang"), 1L).otherwise(0L)).as("mismatches")).first()
        val spark = s; import spark.implicits._
        Seq((r.getLong(0), r.getLong(1), r.getLong(2)))
          .toDF("pages", "html_chars", "mismatches")
      } finally graft.io.Fs.deleteRecursively(d)
    }),
    "q_estimate" -> ((s, dir) => {
      // `.estimate` mode: one row per algorithm family; the per-family size
      // model's inputs (counts) and outputs are exact integer arithmetic,
      // replayed by the oracle. The widths themselves are asserted against
      // measured cache sizes in GdsApiSpec.
      val gds = new graft.api.Gds(s)
      val g = ordersGraph(s, dir)
      gds.graph.create("est_g", g.vertices, g.edges)
      val ests = Seq(
        gds.pageRank.estimate("est_g"), gds.wcc.estimate("est_g"),
        gds.labelPropagation.estimate("est_g"),
        gds.triangleCount.estimate("est_g"),
        gds.fastRP.estimate("est_g"), gds.knn.estimate("est_g"),
        gds.betweenness.estimate("est_g"), gds.louvain.estimate("est_g"),
        gds.nodeSimilarity.estimate("est_g"),
        gds.spanningTree.estimate("est_g"))
      // dedup/ANN family companions (Dedup/Ann estimate models): counts
      // data-derived, widths pure config arithmetic
      val nDocs = table(s, dir, "documents").count()
      val nVecs = table(s, dir, "embeddings").count()
      val mh  = graft.ops.Dedup.estimateMinHash(nDocs)
      val lsh = graft.ops.Ann.estimateLsh(nVecs, dim = 64)
      val spark = s; import spark.implicits._
      (ests.map(e => (e.algorithm, e.nodeCount, e.relationshipCount,
          e.stateRowBytes, e.stateBytes, e.msgBytes, e.bytesMin, e.bytesMax)) ++
        Seq(
          ("minhashLsh", mh.docs, 0L, mh.signatureBytes / mh.docs,
            mh.signatureBytes, mh.indexBytes, mh.bytesMin, mh.bytesMax),
          ("annLsh", lsh.vectors, 0L, lsh.vectorBytes / lsh.vectors,
            lsh.vectorBytes, lsh.indexBytes, lsh.bytesMin, lsh.bytesMax)))
        .toDF("algorithm", "node_count", "relationship_count",
          "state_row_bytes", "state_bytes", "msg_bytes", "bytes_min", "bytes_max")
        .orderBy("algorithm")
    }),
    "q_astar" -> ((s, dir) => astarQuery(s, dir, tail = 500000L)),
    "q_yens" -> ((s, dir) => yensQuery(s, dir, localSolve = 200000L)),

    // --- forced-distributed variants (round 3) ---
    // Same semantics and oracles as the base queries, but the local-tail
    // threshold is disabled (-1) so the INDEPENDENT driver oracle verifies
    // the distributed plans that run at scale, not just the driver-local
    // tails the tiny test graphs would otherwise take (VERDICT r2 item 3;
    // local==distributed parity is additionally unit-asserted per algo).
    "q_wcc_dist" -> ((s, dir) =>
      // forced-distributed star contraction to fixpoint (localSolveThreshold
      // -1 disables the union-find tail): the north-rule algorithm's
      // at-scale loop under the same exact component oracle as q_wcc
      Wcc.run(ordersGraph(s, dir),
        WccConfig(localSolveThreshold = -1L)).components.orderBy("id")),
    "q_dijkstra_dist" -> ((s, dir) => dijkstraQuery(s, dir, tail = -1L)),
    "q_astar_dist" -> ((s, dir) => astarQuery(s, dir, tail = -1L)),
    "q_yens_dist" -> ((s, dir) => yensQuery(s, dir, localSolve = -1L)),
    "q_scc_dist" -> ((s, dir) => sccQuery(s, dir, localSolve = -1L)),
    "q_louvain_l1_dist" -> ((s, dir) => louvainL1Query(s, dir, tail = -1L)),
    "q_harmonic_dist" -> ((s, dir) => harmonicQuery(s, dir, tail = -1L)),
    "q_all_pairs_dist" -> ((s, dir) => allPairsQuery(s, dir, tail = -1L)),
    "q_weighted_all_pairs_dist" -> ((s, dir) => weightedAllPairsQuery(s, dir, tail = -1L)),
    "q_spanning_tree_dist" -> ((s, dir) => spanningTreeQuery(s, dir, localSolve = -1L)),
    "q_kspanning_dist" -> ((s, dir) => kspanningQuery(s, dir, localSolve = -1L)),
    "q_sllpa_dist" -> ((s, dir) => sllpaQuery(s, dir, tail = -1L)),
    "q_maxkcut_dist" -> ((s, dir) => maxkcutQuery(s, dir, tail = -1L)),
    "q_k1coloring_valid_dist" -> ((s, dir) => k1coloringQuery(s, dir, tail = -1L)),
    "q_louvain_dist" -> ((s, dir) => {
      // forced-distributed MULTI-level run (localTailThreshold = -1): the
      // coarsening loop that executes at 100-TB scale gets its own oracle
      // row — q_louvain's invariants plus exact per-node label parity with
      // the locally-solved twin (the property LouvainSpec asserts at
      // fixture scale, here verified at driver scale on real data).
      val g = denseGraph(s, dir)
      val rd = Louvain.run(g, LouvainConfig(localTailThreshold = -1L))
      val rl = Louvain.run(g, LouvainConfig(localTailThreshold = Long.MaxValue))
      val n = g.vertices.count()
      val assigned = rd.communities.count()
      val singletonQ = Louvain.singletonModularity(g)
      val diffs = rd.communities.withColumnRenamed("communityId", "cd")
        .join(rl.communities.withColumnRenamed("communityId", "cl"), "id")
        .filter(col("cd") =!= col("cl")).count()
      val spark = s; import spark.implicits._
      Seq((assigned == n, rd.modularity > singletonQ, diffs == 0L))
        .toDF("partition_complete", "improves_singletons", "matches_local")
    }),
    "q_betweenness_dist" -> ((s, dir) => betweennessQuery(s, dir, tail = -1L)),
    "q_closeness_dist" -> ((s, dir) => closenessQuery(s, dir, tail = -1L)),
    "q_knn_dist" -> ((s, dir) => knnQuery(s, dir, tail = -1L))
  )

  /** Path 1->2->...->n (weights 1..7) + chords (weights >= 10) over
    * customer keys — connected, with an analytically known MST. */
  private def pathChordGraph(s: SparkSession, dir: String): PropertyGraph = {
    val c = table(s, dir, "customer")
    val n = c.count() // keys are 0-based: 0..n-1
    val path = c.filter(col("c_custkey") < n - 1)
      .select(col("c_custkey").as("src"), (col("c_custkey") + 1).as("dst"),
        (col("c_custkey") % 7 + 1).cast("double").as("weight"))
    // dst stays in 0..n-1; n is even at every SF so 3k+1 ≡ k (mod n) has no
    // solution — no self-loops; parallel-with-path chords lose to min-weight
    val chords = c.select(col("c_custkey").as("src"),
        pmod(col("c_custkey") * 3 + 1, lit(n)).as("dst"),
        (col("c_custkey") % 13 + 10).cast("double").as("weight"))
    val edges = path.unionByName(chords)
    PropertyGraph(GraphOps.verticesOf(edges), edges)
  }
  private val PathEdgesSql =
    "SELECT c_custkey AS src, c_custkey + 1 AS dst, " +
    "CAST(c_custkey % 7 + 1 AS DOUBLE) AS weight FROM customer " +
    "WHERE c_custkey < (SELECT max(c_custkey) FROM customer)"

  /** 24-node weighted multigraph over the smallest customer keys with grid
    * lat/lon coordinates — small diameter, exactly replayable relaxation
    * oracle; shared by the A* / Yens queries. No self-loops (parity
    * argument: 2c ≡ -1 and 6c ≡ -3 have no solutions mod 24). */
  private def gridGraph(s: SparkSession, dir: String): PropertyGraph = {
    val c = table(s, dir, "customer").filter(col("c_custkey") < 24)
    val k = col("c_custkey")
    val e1 = c.select(k.as("src"), ((k + 1) % 24).as("dst"),
      (k % 5 + 1).cast("double").as("weight"))
    val e2 = c.select(k.as("src"), ((k * 3 + 1) % 24).as("dst"),
      (k % 7 + 2).cast("double").as("weight"))
    val e3 = c.select(k.as("src"), ((k * 7 + 3) % 24).as("dst"),
      (k % 4 + 3).cast("double").as("weight"))
    val verts = c.select(k.as("id"), (k % 5).cast("double").as("latitude"),
      floor(k / 5).cast("double").as("longitude"))
    PropertyGraph(verts, e1.unionByName(e2).unionByName(e3))
  }
  private val GridEdgesSql =
    """SELECT c_custkey AS src, (c_custkey + 1) % 24 AS dst, CAST(c_custkey % 5 + 1 AS DOUBLE) AS w FROM customer WHERE c_custkey < 24
      |UNION ALL SELECT c_custkey, (c_custkey * 3 + 1) % 24, CAST(c_custkey % 7 + 2 AS DOUBLE) FROM customer WHERE c_custkey < 24
      |UNION ALL SELECT c_custkey, (c_custkey * 7 + 3) % 24, CAST(c_custkey % 4 + 3 AS DOUBLE) FROM customer WHERE c_custkey < 24""".stripMargin

  /** Shared CTE block: unrolled Bellman-Ford relaxation on the grid graph
    * from source 0; `tdist` holds the distance at `target`. */
  private def gridDistCtes(rounds: Int, target: Long): String = {
    val steps = (1 to rounds).map { k =>
      s"""gd$k AS MATERIALIZED (
         |  SELECT u.dst AS id, min(s.dist + u.w) AS dist
         |  FROM gundx u JOIN gd${k - 1} s ON s.id = u.src GROUP BY u.dst)""".stripMargin
    }.mkString(",\n")
    s"""gedges AS ($GridEdgesSql),
       |gnodes AS (SELECT src AS id FROM gedges UNION SELECT dst FROM gedges),
       |gundx AS (SELECT src, dst, w FROM gedges UNION ALL SELECT id, id, 0.0 FROM gnodes),
       |gd0 AS (SELECT id, CASE WHEN id = 0 THEN 0.0 ELSE 1e18 END AS dist FROM gnodes),
       |$steps,
       |tdist AS (SELECT dist FROM gd$rounds WHERE id = $target)""".stripMargin
  }

  // ------------------------------------------------------------------
  // DuckDB oracles
  // ------------------------------------------------------------------

  /** Queries whose `_dist` (forced-distributed) variant reuses the base
    * oracle verbatim — same input graph, same output contract. */
  private val DistVariantKeys = Seq("q_dijkstra", "q_astar", "q_yens",
    "q_scc", "q_louvain_l1", "q_betweenness", "q_closeness", "q_knn", "q_wcc",
    "q_harmonic", "q_all_pairs", "q_weighted_all_pairs", "q_spanning_tree",
    "q_kspanning", "q_sllpa", "q_maxkcut", "q_k1coloring_valid")

  def oracleSql: Map[String, String] =
    baseOracleSql ++ DistVariantKeys.map(k => s"${k}_dist" -> baseOracleSql(k))

  private def baseOracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, floor(sum(l_quantity) * 100.0 + 0.5 + 0.000001) / 100.0 AS sum_qty,
        |floor(sum(l_extendedprice * (1.0 - l_discount)) * 100.0 + 0.5 + 0.000001) / 100.0 AS revenue, count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_pagerank" -> pagerankSql(OrdersEdgesSql, supersteps = 8, weighted = false),
    "q_pagerank_weighted" -> pagerankSql(OrdersWeightedEdgesSql, supersteps = 6, weighted = true),

    "q_degree" ->
      s"""WITH edges AS ($OrdersEdgesSql), $NodesSql,
         |d AS (SELECT src AS id, count(*) AS degree FROM edges GROUP BY src)
         |SELECT n.id, COALESCE(d.degree, 0) AS degree FROM nodes n
         |LEFT JOIN d ON n.id = d.id ORDER BY n.id""".stripMargin,
    "q_degree_weighted" ->
      s"""WITH edges AS ($OrdersWeightedEdgesSql), $NodesSql,
         |d AS (SELECT src AS id, floor(sum(weight) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS wdegree FROM edges GROUP BY src)
         |SELECT n.id, COALESCE(d.wdegree, 0.0) AS wdegree FROM nodes n
         |LEFT JOIN d ON n.id = d.id ORDER BY n.id""".stripMargin,

    "q_wcc" -> wccSql(OrdersEdgesSql, rounds = 12, consecutive = false),
    "q_wcc_consecutive" -> wccSql(OrdersEdgesSql, rounds = 12, consecutive = true),
    "q_labelprop" -> labelPropSql(DenseEdgesSql, iterations = 2),

    "q_triangle_local" ->
      s"""WITH ${triangleBaseSql(DenseEdgesSql)},
         |corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
         |cnt AS (SELECT id, count(*) AS triangles FROM corners GROUP BY id)
         |SELECT n.id, COALESCE(cnt.triangles, 0) AS triangles FROM nodes n
         |LEFT JOIN cnt ON n.id = cnt.id ORDER BY n.id""".stripMargin,
    "q_triangle_global" ->
      s"WITH ${triangleBaseSql(DenseEdgesSql)}\nSELECT count(*) AS triangles FROM tri",
    "q_lcc" ->
      s"""WITH ${triangleBaseSql(DenseEdgesSql)},
         |corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
         |cnt AS (SELECT id, count(*) AS triangles FROM corners GROUP BY id),
         |deg AS (SELECT id, count(*) AS d FROM
         |  (SELECT lo AS id FROM canon UNION ALL SELECT hi FROM canon) t GROUP BY id)
         |SELECT n.id,
         |  CASE WHEN COALESCE(cnt.triangles, 0) = 0 THEN 0.0
         |       ELSE floor(2.0 * cnt.triangles / (deg.d * (deg.d - 1.0)) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 END AS coefficient
         |FROM nodes n LEFT JOIN cnt ON n.id = cnt.id LEFT JOIN deg ON n.id = deg.id
         |ORDER BY n.id""".stripMargin,

    "q_eigenvector" -> eigenvectorSql(DenseEdgesSql, supersteps = 6),
    "q_node_similarity" ->
      s"""WITH edges AS ($OrdersEdgesSql),
         |dedup AS (SELECT DISTINCT src, dst FROM edges),
         |deg AS (SELECT src, count(*) AS d FROM dedup GROUP BY src HAVING count(*) >= 1),
         |inter AS (
         |  SELECT a.src AS n1, b.src AS n2, CAST(count(*) AS DOUBLE) AS i
         |  FROM dedup a JOIN dedup b ON a.dst = b.dst AND a.src <> b.src
         |  GROUP BY a.src, b.src),
         |sims AS (
         |  SELECT i.n1, i.n2, i.i / (d1.d + d2.d - i.i) AS sim
         |  FROM inter i JOIN deg d1 ON i.n1 = d1.src JOIN deg d2 ON i.n2 = d2.src
         |  WHERE i.i / (d1.d + d2.d - i.i) >= 1e-42),
         |ranked AS (
         |  SELECT n1, n2, sim,
         |    row_number() OVER (PARTITION BY n1 ORDER BY sim DESC, n2 ASC) AS rk
         |  FROM sims)
         |SELECT n1, n2, floor(sim * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS similarity
         |FROM ranked WHERE rk <= 3 ORDER BY n1, n2""".stripMargin,
    "q_modes_chain" ->
      s"""WITH edges AS ($OrdersEdgesSql),
         |dedup AS (SELECT DISTINCT src, dst FROM edges),
         |deg AS (SELECT src, count(*) AS d FROM dedup GROUP BY src HAVING count(*) >= 1),
         |inter AS (
         |  SELECT a.src AS n1, b.src AS n2, CAST(count(*) AS DOUBLE) AS i
         |  FROM dedup a JOIN dedup b ON a.dst = b.dst AND a.src <> b.src
         |  GROUP BY a.src, b.src),
         |sims AS (
         |  SELECT i.n1, i.n2, i.i / (d1.d + d2.d - i.i) AS sim
         |  FROM inter i JOIN deg d1 ON i.n1 = d1.src JOIN deg d2 ON i.n2 = d2.src
         |  WHERE i.i / (d1.d + d2.d - i.i) >= 1e-42),
         |ranked AS (
         |  SELECT n1, n2, sim,
         |    row_number() OVER (PARTITION BY n1 ORDER BY sim DESC, n2 ASC) AS rk
         |  FROM sims)
         |SELECT n1 AS id, count(*) AS sim_degree,
         |  ${graft.core.Num.roundSql("sum(sim)", 5)} AS sim_weight
         |FROM ranked WHERE rk <= 3 GROUP BY n1 ORDER BY id""".stripMargin,
    "q_bfs" -> bfsSql(DenseEdgesSql, maxDepth = 20),
    "q_all_pairs" -> allPairsSql(DenseEdgesSql, maxDepth = 20, maxSource = 30),
    "q_weighted_all_pairs" -> weightedAllPairsSql(
      DenseEdgesSql.replace(" FROM orders", ", CAST((o_orderkey % 300) * 31 + ((o_orderkey * 7 + o_custkey) % 300) AS BIGINT) AS wseed FROM orders"),
      rounds = 20, maxSource = 20),
    "q_sssp" -> ssspSql(
      DenseEdgesSql.replace(" FROM orders", ", CAST((o_orderkey % 300) * 31 + ((o_orderkey * 7 + o_custkey) % 300) AS BIGINT) AS wseed FROM orders"),
      rounds = 14),
    "q_pregel_sssp" -> ssspSql(
      DenseEdgesSql.replace(" FROM orders", ", CAST((o_orderkey % 300) * 31 + ((o_orderkey * 7 + o_custkey) % 300) AS BIGINT) AS wseed FROM orders"),
      rounds = 14),
    "q_collapse_path" ->
      s"""WITH edges AS ($DenseEdgesSql)
         |SELECT DISTINCT a.src, b.dst FROM edges a JOIN edges b ON a.dst = b.src
         |WHERE a.src <> b.dst ORDER BY a.src, b.dst""".stripMargin,
    "q_k1coloring_valid" -> "SELECT CAST(0 AS BIGINT) AS monochromatic_edges",
    "q_subgraph_degree" ->
      """WITH nc AS (SELECT count(*) AS n FROM customer),
        |verts AS (SELECT c_custkey AS id, c_acctbal FROM customer WHERE c_acctbal > 1000),
        |edges AS (SELECT c_custkey AS src, (c_custkey * 3 + 1) % (SELECT n FROM nc) AS dst FROM customer),
        |kept AS (SELECT e.src, e.dst FROM edges e
        |         JOIN verts a ON e.src = a.id JOIN verts b ON e.dst = b.id),
        |d AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS degree FROM kept GROUP BY src)
        |SELECT v.id, COALESCE(d.degree, 0) AS degree FROM verts v
        |LEFT JOIN d ON v.id = d.id ORDER BY v.id""".stripMargin,

    "q_dedup_exact" ->
      """WITH fp AS (SELECT doc_id AS id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f FROM documents),
        |canon AS (SELECT f, min(id) AS canonical_id FROM fp GROUP BY f)
        |SELECT fp.id, canon.canonical_id FROM fp JOIN canon ON fp.f = canon.f ORDER BY fp.id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        |ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_count_bpe" ->
      """SELECT doc_id, CAST(length(regexp_extract_all(text,
        |  '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[0-9]+| ?[^\s\p{L}0-9]+')) AS INT)
        |  AS pretokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_quality" -> qualitySql,
    "q_lang_id" -> langIdSql,
    "q_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_repetition" -> {
      val r6 = (e: String) => s"floor(($e) * 1000000.0 + 0.5 + 0.000001) / 1000000.0"
      s"""WITH d AS (SELECT doc_id, text,
         |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
         |w AS (SELECT doc_id, text, norm, string_split(norm, ' ') AS ws FROM d),
         |g AS (SELECT doc_id,
         |  CASE WHEN len(ws) < 2 THEN [norm]
         |       ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END AS grams
         |  FROM w),
         |e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
         |c AS (SELECT doc_id, gram, count(*) AS c FROM e GROUP BY 1, 2),
         |t AS (SELECT doc_id, max(c) AS top, sum(c) AS total FROM c GROUP BY doc_id)
         |SELECT w.doc_id,
         |  CASE WHEN len(trim(w.text)) = 0 THEN 0.0
         |       ELSE ${r6("1.0 - len(list_distinct(w.ws)) * 1.0 / len(w.ws)")} END AS dup_token_frac,
         |  t.top, CAST(t.total AS BIGINT) AS total,
         |  ${r6("t.top * 1.0 / t.total")} AS top_bigram_frac
         |FROM w JOIN t ON t.doc_id = w.doc_id ORDER BY w.doc_id""".stripMargin
    },
    "q_text_classifier" ->
      """WITH s AS (SELECT doc_id,
        |  CASE WHEN substr(md5(concat_ws(':', doc_id, 17)), 1, 4) < '3333'
        |       THEN 1 ELSE 0 END AS t,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       WHEN len(regexp_extract_all(text, '\bspark\b')) * 1.0 /
        |            len(regexp_split_to_array(trim(text), '\s+')) >= 0.03
        |       THEN 1 ELSE 0 END AS y
        |  FROM documents)
        |SELECT CAST(sum(1 - t) AS BIGINT) AS train_rows,
        |  CAST(sum(t) AS BIGINT) AS test_rows,
        |  CAST(sum(y) AS BIGINT) AS positives,
        |  true AS acc_ok, true AS beats_majority FROM s""".stripMargin,
    "q_lm_score" ->
      s"""WITH d AS (SELECT doc_id AS id,
         |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
         |w AS (SELECT id, string_split(norm, ' ') AS ws FROM d WHERE len(string_split(norm, ' ')) >= 2),
         |v AS (SELECT count(DISTINCT tk) AS vs FROM (SELECT unnest(ws) AS tk FROM w)),
         |bi AS (SELECT id, ws[i] AS w1, ws[i+1] AS w2
         |       FROM (SELECT id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM w)),
         |cb AS (SELECT w1, w2, count(*) AS cb FROM bi GROUP BY 1, 2),
         |ch AS (SELECT w1, sum(cb) AS ch FROM cb GROUP BY 1),
         |lp AS (SELECT bi.id, ln((cb.cb + 0.1) / (ch.ch + 0.1 * v.vs)) AS lp
         |       FROM bi JOIN cb USING (w1, w2) JOIN ch USING (w1), v),
         |agg AS (SELECT id, count(*) AS bigrams, sum(lp) / count(*) AS m FROM lp GROUP BY id)
         |SELECT id AS doc_id, bigrams,
         |  ${graft.core.Num.roundSql("m", 6)} AS logprob_per_bigram,
         |  ${graft.core.Num.roundSql("exp(-m)", 4)} AS perplexity
         |FROM agg ORDER BY doc_id""".stripMargin,
    "q_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(concat_ws(':', doc_id, 11)), 1, 4) < '4000'
        |ORDER BY doc_id""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(concat_ws(':', doc_id, 7)), 1, 4) <
        |  CASE WHEN lang = 'en' THEN '199a' WHEN lang = 'zh' THEN '8000' ELSE 'g' END
        |ORDER BY doc_id""".stripMargin,
    "q_dedup_stream" ->
      """SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY fp""".stripMargin,
    "q_jaccard_pairs" ->
      """WITH pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1),
        |words AS (SELECT DISTINCT doc_id AS id, unnest(
        |  regexp_split_to_array(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |sizes AS (SELECT id, count(*) AS sz FROM words GROUP BY id),
        |inter AS (SELECT p.id_a, p.id_b, count(*) AS i FROM pairs p
        |  JOIN words wa ON wa.id = p.id_a JOIN words wb ON wb.id = p.id_b AND wb.w = wa.w
        |  GROUP BY p.id_a, p.id_b)
        |SELECT p.id_a, p.id_b,
        |  floor(CAST(COALESCE(i.i, 0) AS DOUBLE) / (sa.sz + sb.sz - COALESCE(i.i, 0)) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS jaccard
        |FROM pairs p
        |LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
        |JOIN sizes sa ON sa.id = p.id_a JOIN sizes sb ON sb.id = p.id_b
        |ORDER BY p.id_a""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
        |sims AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  floor(list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) * 100000.0 + 0.5 + 0.000001) / 100000.0 AS cosine
        |  FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, neighbor_id, cosine,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        |  FROM sims)
        |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
        |ORDER BY query_id, rank""".stripMargin,

    "q_sessionize" ->
      """WITH g AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS events, min(ts) AS started, max(ts) AS ended,
        |  floor(sum(value) * 10000.0 + 0.5 + 0.000001) / 10000.0 AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_sessionize_stream" ->
      """WITH g AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts, value,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, count(*) AS events, min(ts) AS started, max(ts) AS ended,
        |  floor(sum(COALESCE(value, 0)) * 10000.0 + 0.5 + 0.000001) / 10000.0 AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
    "q_events_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        |floor(sum(value) * 10000.0 + 0.5 + 0.000001) / 10000.0 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_events_window_stream" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        |floor(sum(value) * 10000.0 + 0.5 + 0.000001) / 10000.0 AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_hits" -> hitsSql(DenseEdgesSql, iterations = 3),
    "q_louvain_l1" -> louvainL1Sql(DenseEdgesSql),
    "q_louvain" -> "SELECT true AS partition_complete, true AS improves_singletons",
    "q_louvain_dist" -> ("SELECT true AS partition_complete, " +
      "true AS improves_singletons, true AS matches_local"),
    "q_minhash_neardup" -> neardupJaccardSql(threshold = 0.8),
    "q_minhash_stream" -> neardupJaccardSql(threshold = 0.8),
    "q_quantize" ->
      s"""WITH $QuantizeCodesSql
         |SELECT CAST(vec_id AS BIGINT) AS vec_id,
         |  ${graft.core.Num.roundSql("scale", 6)} AS scale,
         |  CAST(list_aggregate(list_transform(qv, q -> CAST(q AS BIGINT)), 'sum')
         |    AS BIGINT) AS q_sum,
         |  CAST(list_aggregate(list_transform(qv, q -> CAST(q AS BIGINT) * q), 'sum')
         |    AS BIGINT) AS q_l2
         |FROM codes ORDER BY vec_id""".stripMargin,
    "q_quantize_topk" ->
      s"""WITH $QuantizeCodesSql,
         |pe AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    unnest(q.qv) AS a, unnest(c.qv) AS b
         |  FROM codes q JOIN codes c ON q.vec_id < 20 AND q.vec_id <> c.vec_id),
         |ds AS (
         |  SELECT query_id, neighbor_id,
         |    sum(CAST(a AS BIGINT) * b) AS dot,
         |    sum(CAST(a AS BIGINT) * a) AS na2,
         |    sum(CAST(b AS BIGINT) * b) AS nb2
         |  FROM pe GROUP BY query_id, neighbor_id),
         |sims AS (
         |  SELECT query_id, neighbor_id,
         |    ${graft.core.Num.roundSql(
                 "CASE WHEN sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE)) = 0 " +
                 "THEN 0.0 ELSE CAST(dot AS DOUBLE) / " +
                 "(sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))) END", 6)}
         |      AS qcosine
         |  FROM ds),
         |rk AS (
         |  SELECT query_id, neighbor_id, qcosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY qcosine DESC, neighbor_id ASC) AS rank
         |  FROM sims)
         |SELECT CAST(query_id AS BIGINT) AS query_id,
         |  CAST(neighbor_id AS BIGINT) AS neighbor_id, qcosine, CAST(rank AS INT) AS rank
         |FROM rk WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin,
    "q_neardup_clusters" -> nearDupClustersSql(threshold = 0.8),
    "q_contamination" -> ContaminationSql,
    "q_c4_clean" -> C4CleanSql,
    "q_paragraph_dedup" -> ParagraphDedupSql,
    "q_simhash_neardup" -> "SELECT CAST(0 AS BIGINT) AS missed_true_pairs",
    "q_knn" ->
      "SELECT (SELECT count(*) FROM embeddings) AS nodes, true AS recall_ok",
    "q_node_classification" ->
      """SELECT range AS id,
        |  CASE WHEN range < 150 THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END
        |    AS predicted_class
        |FROM range(300)""".stripMargin,
    "q_nc_select" ->
      """SELECT CAST(1 AS BIGINT) AS winner, CAST(2 AS BIGINT) AS n_candidates,
        |  1.0 AS win_avg, 1.0 AS win_min, 1.0 AS win_max,
        |  true AS null_model_worse, 1.0 AS acc, 1.0 AS f1_weighted,
        |  1.0 AS f1_macro, 1.0 AS train_acc""".stripMargin,
    "q_link_prediction" ->
      """SELECT CAST(50 AS BIGINT) AS top_pairs, CAST(0 AS BIGINT) AS cross_cluster,
        |  CAST(0 AS BIGINT) AS already_edges, CAST(0 AS BIGINT) AS bad_prob,
        |  true AS train_acc_ok, true AS test_acc_ok""".stripMargin,
    "q_lp_pipeline" ->
      """SELECT CAST(50 AS BIGINT) AS top_pairs, CAST(0 AS BIGINT) AS cross_cluster,
        |  CAST(0 AS BIGINT) AS already_edges, CAST(1 AS BIGINT) AS winner,
        |  CAST(11 AS BIGINT) AS dims, true AS test_acc_ok, true AS in_catalog""".stripMargin,
    "q_graphsage" ->
      """SELECT CAST(300 AS BIGINT) AS nodes, CAST(0 AS BIGINT) AS bad_dims,
        |  CAST(0 AS BIGINT) AS non_finite, CAST(0 AS BIGINT) AS bad_norm,
        |  CAST(0 AS BIGINT) AS digest_mismatch,
        |  true AS loss_decreased, true AS clusters_separated""".stripMargin,
    "q_node2vec" ->
      s"""WITH edges AS ($DenseEdgesSql), $NodesSql
         |SELECT CAST(0 AS BIGINT) AS invalid_transitions,
         |  (SELECT count(*) FROM nodes) * 2 AS walks,
         |  CAST(0 AS BIGINT) AS bad_dims, CAST(0 AS BIGINT) AS non_finite,
         |  CAST(0 AS BIGINT) AS missing_embeddings""".stripMargin,
    "q_fastrp" ->
      s"""WITH edges AS ($DenseEdgesSql), $NodesSql
         |SELECT (SELECT count(*) FROM nodes) AS nodes,
         |  CAST(0 AS BIGINT) AS bad_dims, CAST(0 AS BIGINT) AS non_finite,
         |  CAST(0 AS BIGINT) AS digest_mismatch""".stripMargin,
    "q_fastrp_extended" ->
      s"""WITH edges AS ($DenseEdgesSql), $NodesSql
         |SELECT (SELECT count(*) FROM nodes) AS nodes,
         |  CAST(0 AS BIGINT) AS bad_dims, CAST(0 AS BIGINT) AS non_finite,
         |  CAST(0 AS BIGINT) AS bad_norm, CAST(0 AS BIGINT) AS trailing_leak,
         |  CAST(0 AS BIGINT) AS base_dead, CAST(0 AS BIGINT) AS digest_mismatch,
         |  CAST(0 AS BIGINT) AS feat_insensitive""".stripMargin,
    "q_lsh_topk" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
        |1.0 AS cosine, CAST(1 AS INT) AS rank
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "q_ivf_topk" ->
      """SELECT vec_id + 1000000 AS query_id, vec_id AS neighbor_id,
        |1.0 AS cosine, CAST(1 AS INT) AS rank
        |FROM embeddings WHERE vec_id < 5 ORDER BY query_id""".stripMargin,
    "q_cosine_neardup" ->
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |scaled AS (SELECT vec_id + 1000000 AS vec_id, list_transform(e, x -> x * 1.25) AS e
         |           FROM base WHERE vec_id < 150),
         |blends AS (SELECT a.vec_id + 2000000 AS vec_id,
         |             list_transform(list_zip(a.e, b.e), s -> 0.98 * s[1] + 0.02 * s[2]) AS e
         |           FROM base a JOIN base b ON a.vec_id - 150 = b.vec_id
         |           WHERE a.vec_id >= 150 AND a.vec_id < 300),
         |corpus AS (SELECT * FROM base UNION ALL SELECT * FROM scaled UNION ALL SELECT * FROM blends),
         |pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |            ${graft.core.Num.roundSql("list_cosine_similarity(a.e, b.e)", 5)} AS cosine
         |          FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
         |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,
    "q_media_valid" ->
      """SELECT CAST(200 AS BIGINT) AS rows_total, CAST(0 AS BIGINT) AS bad_dims,
        |CAST(0 AS BIGINT) AS bad_embeddings""".stripMargin,
    // Real-codec decode check: the Spark side DECODES actual PNG bytes; the
    // oracle replays the known construction arithmetic of the solid-color
    // images (see Multimodal.synthPngs).
    "q_media_decode" ->
      """SELECT c_custkey AS media_id,
        |  CAST(16 + c_custkey % 32 AS INT) AS width,
        |  CAST(8 + c_custkey % 16 AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  CAST(c_custkey * 37 % 256 AS DOUBLE) AS mean_r,
        |  CAST(c_custkey * 59 % 256 AS DOUBLE) AS mean_g,
        |  CAST(c_custkey * 83 % 256 AS DOUBLE) AS mean_b
        |FROM customer WHERE c_custkey < 200 ORDER BY media_id""".stripMargin,
    // Independent replay of the stub codec: payload = ASCII hex of
    // sha256("media<id>"), seed = first 6 bytes big-endian (every term
    // < 2^48, so double/ BIGINT arithmetic is exact), dims = seed mod
    // bounds, embedding[i] = Park-Miller LCG over the 31-bit Mersenne
    // prime rounded through REAL exactly like the engine's Array[Float].
    "q_media_features" ->
      s"""WITH m AS (
         |  SELECT media_id,
         |    CASE CAST(media_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         |    CAST(list_sum(list_transform(range(0,6), j ->
         |      ascii(substr(sha256('media' || CAST(media_id AS VARCHAR)), CAST(j+1 AS INT), 1)) * power(256, 5-j))) AS BIGINT) AS seed
         |  FROM range(0, 200) t(media_id)),
         |f AS (
         |  SELECT media_id, kind,
         |    CAST(seed % 1920 + 1 AS INT) AS width,
         |    CAST((seed >> 16) % 1080 + 1 AS INT) AS height,
         |    CAST(3 AS INT) AS channels,
         |    list_transform(range(0,64), i ->
         |      CAST(CAST(CAST(((seed % 2147483647) * 48271 + i * 12345 + 6789) % 2147483647 AS DOUBLE) / 2147483647.0 AS REAL) AS DOUBLE)) AS emb
         |  FROM m)
         |SELECT media_id, kind, width, height, channels,
         |  ${graft.core.Num.roundSql("list_sum(emb)", 4)} AS emb_sum,
         |  ${graft.core.Num.roundSql("emb[1]", 6)} AS emb_first
         |FROM f ORDER BY media_id""".stripMargin,
    "q_random_walks" ->
      s"""WITH edges AS ($DenseEdgesSql), $NodesSql
         |SELECT CAST(0 AS BIGINT) AS invalid_transitions,
         |  (SELECT count(*) FROM nodes) AS walks,
         |  (SELECT count(*) FROM nodes) AS complete_walks""".stripMargin,
    "q_random_walks_biased" ->
      s"""WITH edges AS ($DenseEdgesSql), $NodesSql
         |SELECT CAST(0 AS BIGINT) AS invalid_transitions,
         |  (SELECT count(*) FROM nodes) AS walks,
         |  true AS backtrack_bias_ok, true AS deterministic""".stripMargin,
    "q_generate" ->
      """SELECT CAST(2000 AS BIGINT) AS uniform_edges,
        |CAST(0 AS BIGINT) AS uniform_degree_violations,
        |CAST(0 AS BIGINT) AS powerlaw_target_violations,
        |CAST(1 AS BIGINT) AS deterministic,
        |CAST(0 AS BIGINT) AS property_violations""".stripMargin,
    "q_pages_wcc" -> "SELECT CAST(3000 AS BIGINT) AS nodes_total, true AS has_giant",

    "q_url_canon" -> UrlCanonSql,
    "q_anchor_text" ->
      """WITH o AS (SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey < 2000),
        |r AS (
        |  SELECT concat('https://h', CAST(o_custkey % 20 AS VARCHAR), '.example/p/',
        |           CAST(o_orderkey AS VARCHAR)) AS url,
        |    concat('https://t', CAST((o_orderkey % 50) % 10 AS VARCHAR), '.example/d/',
        |           CAST(o_orderkey % 50 AS VARCHAR)) AS href,
        |    concat('doc ', CAST(o_orderkey % 50 AS VARCHAR)) AS anchor
        |  FROM o
        |  UNION ALL
        |  SELECT concat('https://h', CAST(o_custkey % 20 AS VARCHAR), '.example/p/',
        |           CAST(o_orderkey AS VARCHAR)),
        |    concat('https://t', CAST(((o_orderkey * 3 + o_custkey) % 50) % 10 AS VARCHAR),
        |           '.example/d/', CAST((o_orderkey * 3 + o_custkey) % 50 AS VARCHAR)),
        |    concat('doc ', CAST((o_orderkey * 3 + o_custkey) % 50 AS VARCHAR))
        |  FROM o)
        |SELECT href, anchor, count(*) AS n, count(DISTINCT url) AS pages
        |FROM r GROUP BY href, anchor ORDER BY href, anchor""".stripMargin,
    "q_host_graph" ->
      """WITH l AS (SELECT
        |  concat('https://h', CAST(o_custkey % 40 AS VARCHAR), '.example/p/',
        |         CAST(o_orderkey AS VARCHAR)) AS url,
        |  concat('h', CAST(o_custkey % 40 AS VARCHAR), '.example') AS src_host,
        |  concat('h', CAST((o_orderkey * 7 + o_custkey) % 40 AS VARCHAR), '.example') AS dst_host
        |  FROM orders)
        |SELECT src_host, dst_host, count(*) AS weight,
        |       count(DISTINCT url) AS pages
        |FROM l GROUP BY src_host, dst_host
        |ORDER BY src_host, dst_host""".stripMargin,

    "q_dijkstra" -> dijkstraPathSql(
      DenseEdgesSql.replace(" FROM orders",
        ", CAST((o_orderkey % 300) * 31 + ((o_orderkey * 7 + o_custkey) % 300) AS BIGINT) AS wseed FROM orders"),
      rounds = 14),
    "q_betweenness" -> betweennessSql(DenseEdgesSql),
    "q_closeness" -> closenessSql(DenseEdgesSql, harmonic = false),
    "q_harmonic" -> closenessSql(DenseEdgesSql, harmonic = true),
    "q_scc" -> sccSql(
      "SELECT o_orderkey % 400 AS src, (o_orderkey * 13 + o_custkey * 7) % 400 AS dst " +
      "FROM orders WHERE o_orderkey % 9 = 0"),
    "q_dfs" ->
      s"""WITH RECURSIVE edges AS ($DenseEdgesSql),
         |r(v) AS (SELECT CAST(0 AS BIGINT) AS v
         |         UNION SELECT e.dst FROM r JOIN edges e ON r.v = e.src)
         |SELECT count(*) AS visited, CAST(0 AS BIGINT) AS first_id FROM r""".stripMargin,

    // MST of the path-with-heavy-chords graph IS the path (cycle property:
    // every chord is the strict maximum of the cycle it closes).
    "q_spanning_tree" -> s"$PathEdgesSql ORDER BY src, dst",
    "q_kspanning" ->
      s"""WITH mst AS ($PathEdgesSql),
         |cuts AS (SELECT src FROM mst ORDER BY weight DESC, src ASC, dst ASC LIMIT 2),
         |p AS (SELECT min(src) AS p1, max(src) AS p2 FROM cuts)
         |SELECT c.c_custkey AS id,
         |  CAST(CASE WHEN c.c_custkey <= p.p1 THEN 0
         |            WHEN c.c_custkey <= p.p2 THEN p.p1 + 1
         |            ELSE p.p2 + 1 END AS BIGINT) AS clusterId
         |FROM customer c, p ORDER BY id""".stripMargin,
    "q_sllpa" ->
      ("SELECT true AS all_covered, CAST(0 AS BIGINT) AS invalid_labels, " +
       "CAST(0 AS BIGINT) AS rerun_diff"),
    "q_influence_max" ->
      """SELECT CAST(1 AS BIGINT) AS seed_rank, CAST(0 AS BIGINT) AS nodeId,
        |CAST((SELECT count(*) FROM customer) AS DOUBLE) AS spread""".stripMargin,
    "q_maxkcut" ->
      ("SELECT true AS all_assigned, CAST(0 AS BIGINT) AS out_of_range, " +
       "true AS cut_ge_half"),

    // --- remaining procedure surface (round 2) ---
    "q_pagerank_personalized" ->
      pagerankSql(OrdersEdgesSql, supersteps = 6, weighted = false,
        sources = Seq(0L, 7L, 42L)),
    "q_wcc_seeded" ->
      wccSql(OrdersEdgesSql, rounds = 12, consecutive = false,
        init = "least(id, id % 7)"),
    "q_articlerank" -> articleRankSql(OrdersEdgesSql, supersteps = 6),
    "q_triangles_stream" ->
      s"WITH ${triangleBaseSql(DenseEdgesSql)}\nSELECT a, b, c FROM tri ORDER BY a, b, c",
    "q_wcc_threshold" -> wccThresholdSql(OrdersWeightedEdgesSql, rounds = 12, threshold = 4.0),
    "q_scale_properties" -> ScalePropertiesSql,
    "q_alpha_similarity" -> AlphaSimilaritySql,
    "q_similarity_fns" -> SimilarityFnsSql,
    "q_linkpred_fns" -> LinkPredFnsSql,
    "q_split_rels" -> SplitRelsSql,
    "q_exec_stats" -> ExecStatsSql,
    "q_exec_mutate" -> ExecMutateSql,
    "q_exec_write" -> ExecWriteSql,
    "q_catalog" -> CatalogSql,
    "q_model_catalog" ->
      """SELECT true AS exists_after_set, true AS listed, true AS dropped,
        |CAST(300 AS BIGINT) AS nodes, CAST(0 AS BIGINT) AS predict_mismatches,
        |true AS params_roundtrip_ok""".stripMargin,
    "q_csv_roundtrip" -> RoundtripSql,
    "q_bucketed_roundtrip" -> RoundtripSql.replace("AS edge_checksum",
      "AS edge_checksum, CAST(0 AS BIGINT) AS agg_exchanges"),
    "q_snapshot_roundtrip" -> RoundtripSql,
    "q_warc_roundtrip" ->
      ("SELECT count(*) AS pages, CAST(sum(length(text) + 26) AS BIGINT) AS html_chars, " +
       "CAST(0 AS BIGINT) AS mismatches FROM documents"),
    "q_estimate" -> EstimateSql,
    "q_astar" ->
      s"""WITH ${gridDistCtes(rounds = 12, target = 13L)}
         |SELECT CAST(0 AS BIGINT) AS sourceNode, CAST(13 AS BIGINT) AS targetNode,
         |  (SELECT floor(dist * 1000000.0 + 0.5 + 0.000001) / 1000000.0 FROM tdist) AS totalCost""".stripMargin,
    "q_yens" ->
      s"""WITH ${gridDistCtes(rounds = 12, target = 13L)}
         |SELECT CAST(3 AS BIGINT) AS paths, true AS costs_nondecreasing,
         |  CAST(0 AS BIGINT) AS bad_edges, CAST(0 AS BIGINT) AS cost_mismatch,
         |  CAST(0 AS BIGINT) AS loops,
         |  (SELECT floor(dist * 1000000.0 + 0.5 + 0.000001) / 1000000.0 FROM tdist) AS first_cost""".stripMargin
  )

  /** All 7 scalers in one pass; st carries the per-scaler statistics
    * (population stddev, L1/L2 norms, extremes) exactly as Scaler.apply
    * computes them. */
  private val ScalePropertiesSql =
    """WITH c AS (SELECT c_custkey AS id, CAST(c_acctbal AS DOUBLE) AS v,
      |            CAST(c_custkey + 1 AS DOUBLE) AS p FROM customer),
      |st AS (SELECT min(v) AS lo, max(v) AS hi, avg(v) AS mu, stddev_pop(v) AS sd,
      |  sum(abs(v)) AS l1s, sqrt(sum(v * v)) AS l2s, max(abs(v)) AS mx FROM c)
      |SELECT c.id,
      |  floor((c.v - st.lo) / (CASE WHEN st.hi - st.lo = 0 THEN 1.0 ELSE st.hi - st.lo END) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS minmax,
      |  floor(c.v / (CASE WHEN st.mx = 0 THEN 1.0 ELSE st.mx END) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS maxabs,
      |  floor((c.v - st.mu) / (CASE WHEN st.hi - st.lo = 0 THEN 1.0 ELSE st.hi - st.lo END) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS meanscaled,
      |  floor((c.v - st.mu) / (CASE WHEN st.sd = 0 THEN 1.0 ELSE st.sd END) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS stdscore,
      |  floor(c.v / (CASE WHEN st.l1s = 0 THEN 1.0 ELSE st.l1s END) * 1000000000.0 + 0.5 + 0.000001) / 1000000000.0 AS l1,
      |  floor(c.v / (CASE WHEN st.l2s = 0 THEN 1.0 ELSE st.l2s END) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS l2,
      |  floor(ln(c.p) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS logp
      |FROM c, st ORDER BY c.id""".stripMargin

  /** Vector metrics as explicit scalar arithmetic (integer-valued inputs →
    * bit-identical cross-engine), set metrics via DISTINCT unnest joins;
    * term order mirrors the Catalyst fold order (left-assoc). */
  /** Pairwise alpha-similarity proc oracle: same left-assoc fold order as
    * the engine's zip_with/aggregate expressions, so every double is
    * bit-identical before the shared 6-digit rounding. */
  private val AlphaSimilaritySql: String = {
    val r6 = (e: String) => graft.core.Num.roundSql(e, 6)
    s"""WITH v AS (
       |  SELECT CAST(c_custkey AS BIGINT) AS id,
       |    CAST((c_custkey * 1) % 17 + 1 AS DOUBLE) AS x1,
       |    CAST((c_custkey * 2) % 17 + 1 AS DOUBLE) AS x2,
       |    CAST((c_custkey * 3) % 17 + 1 AS DOUBLE) AS x3,
       |    CAST((c_custkey * 4) % 17 + 1 AS DOUBLE) AS x4
       |  FROM customer WHERE c_custkey <= 30),
       |p AS (
       |  SELECT a.id AS node1, b.id AS node2,
       |    a.x1 AS ax1, a.x2 AS ax2, a.x3 AS ax3, a.x4 AS ax4,
       |    b.x1 AS bx1, b.x2 AS bx2, b.x3 AS bx3, b.x4 AS bx4,
       |    a.x1*b.x1 + a.x2*b.x2 + a.x3*b.x3 + a.x4*b.x4 AS dot,
       |    sqrt(a.x1*a.x1 + a.x2*a.x2 + a.x3*a.x3 + a.x4*a.x4) AS na,
       |    sqrt(b.x1*b.x1 + b.x2*b.x2 + b.x3*b.x3 + b.x4*b.x4) AS nb,
       |    sqrt((a.x1-b.x1)*(a.x1-b.x1) + (a.x2-b.x2)*(a.x2-b.x2)
       |       + (a.x3-b.x3)*(a.x3-b.x3) + (a.x4-b.x4)*(a.x4-b.x4)) AS dist,
       |    (a.x1+a.x2+a.x3+a.x4)/4.0 AS ma, (b.x1+b.x2+b.x3+b.x4)/4.0 AS mb
       |  FROM v a JOIN v b ON a.id <> b.id),
       |cosr AS (
       |  SELECT node1, node2,
       |    CASE WHEN na*nb = 0 THEN 0.0 ELSE dot/(na*nb) END AS sim,
       |    row_number() OVER (PARTITION BY node1
       |      ORDER BY CASE WHEN na*nb = 0 THEN 0.0 ELSE dot/(na*nb) END DESC,
       |               node2 ASC) AS r
       |  FROM p),
       |pear AS (
       |  SELECT node1, node2,
       |    (ax1-ma)*(bx1-mb) + (ax2-ma)*(bx2-mb)
       |      + (ax3-ma)*(bx3-mb) + (ax4-ma)*(bx4-mb) AS cov,
       |    sqrt((ax1-ma)*(ax1-ma) + (ax2-ma)*(ax2-ma)
       |       + (ax3-ma)*(ax3-ma) + (ax4-ma)*(ax4-ma)) AS sa,
       |    sqrt((bx1-mb)*(bx1-mb) + (bx2-mb)*(bx2-mb)
       |       + (bx3-mb)*(bx3-mb) + (bx4-mb)*(bx4-mb)) AS sb
       |  FROM p)
       |SELECT metric, node1, node2, similarity FROM (
       |  SELECT 'cosine' AS metric, node1, node2, ${r6("sim")} AS similarity
       |  FROM cosr WHERE r <= 3
       |  UNION ALL
       |  SELECT 'euclidean', node1, node2, ${r6("dist")}
       |  FROM p WHERE node1 < node2 AND dist <= 6.0
       |  UNION ALL
       |  SELECT 'pearson', node1, node2,
       |    ${r6("CASE WHEN sa*sb = 0 THEN 0.0 ELSE cov/(sa*sb) END")}
       |  FROM pear WHERE node1 < node2
       |    AND (CASE WHEN sa*sb = 0 THEN 0.0 ELSE cov/(sa*sb) END) >= 0.5
       |) ORDER BY metric, node1, node2""".stripMargin
  }

  private val SimilarityFnsSql: String = {
    val a = (0 until 4).map(i => s"CAST((c_custkey * ${i + 1}) % 17 + 1 AS DOUBLE) AS a$i")
    val b = (0 until 4).map(i => s"CAST(((c_custkey + 1) * ${i + 2}) % 19 + 1 AS DOUBLE) AS b$i")
    def sumTerms(f: Int => String) = (0 until 4).map(f).mkString(" + ")
    val dab = sumTerms(i => s"a$i * b$i")
    val daa = sumTerms(i => s"a$i * a$i")
    val dbb = sumTerms(i => s"b$i * b$i")
    val dsq = sumTerms(i => s"(a$i - b$i) * (a$i - b$i)")
    val cov  = sumTerms(i => s"(a$i - mua) * (b$i - mub)")
    val vara = sumTerms(i => s"(a$i - mua) * (a$i - mua)")
    val varb = sumTerms(i => s"(b$i - mub) * (b$i - mub)")
    val r6 = (e: String) => s"floor(($e) * 1000000.0 + 0.5 + 0.000001) / 1000000.0"
    s"""WITH c AS (SELECT c_custkey AS id, ${(a ++ b).mkString(", ")} FROM customer),
       |v AS (SELECT *, ($dab) AS dab, ($daa) AS daa, ($dbb) AS dbb, ($dsq) AS dsq,
       |  (a0 + a1 + a2 + a3) / 4.0 AS mua, (b0 + b1 + b2 + b3) / 4.0 AS mub FROM c),
       |w AS (SELECT id, dab, daa, dbb, dsq,
       |  ($cov) AS cov, ($vara) AS vara, ($varb) AS varb FROM v),
       |wa AS (SELECT DISTINCT c_custkey AS id,
       |  unnest([c_custkey % 5, c_custkey % 7, c_custkey % 11]) AS x FROM customer),
       |wb AS (SELECT DISTINCT c_custkey AS id,
       |  unnest([(c_custkey + 1) % 5, (c_custkey + 1) % 7, (c_custkey + 1) % 11]) AS x FROM customer),
       |sa AS (SELECT id, count(*) AS n FROM wa GROUP BY id),
       |sb AS (SELECT id, count(*) AS n FROM wb GROUP BY id),
       |iw AS (SELECT wa.id, count(*) AS i FROM wa JOIN wb ON wb.id = wa.id AND wb.x = wa.x GROUP BY wa.id)
       |SELECT w.id,
       |  ${r6("w.dab / (sqrt(w.daa) * sqrt(w.dbb))")} AS cosine,
       |  ${r6("sqrt(w.dsq)")} AS euclidean_dist,
       |  ${r6("1.0 / (1.0 + sqrt(w.dsq))")} AS euclidean_sim,
       |  ${r6("CASE WHEN sqrt(w.vara) * sqrt(w.varb) = 0 THEN 0.0 ELSE w.cov / (sqrt(w.vara) * sqrt(w.varb)) END")} AS pearson,
       |  ${r6("CAST(COALESCE(iw.i, 0) AS DOUBLE) / (sa.n + sb.n - COALESCE(iw.i, 0))")} AS jaccard,
       |  ${r6("CAST(COALESCE(iw.i, 0) AS DOUBLE) / least(sa.n, sb.n)")} AS overlap
       |FROM w JOIN sa ON sa.id = w.id JOIN sb ON sb.id = w.id
       |LEFT JOIN iw ON iw.id = w.id
       |ORDER BY w.id""".stripMargin
  }

  private val LinkPredFnsSql: String = {
    val r6 = (e: String) => s"floor(($e) * 1000000.0 + 0.5 + 0.000001) / 1000000.0"
    s"""WITH edges AS ($DenseEdgesSql),
       |canon AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
       |          FROM edges WHERE src <> dst),
       |nbr AS (SELECT lo AS id, hi AS nb FROM canon UNION ALL SELECT hi, lo FROM canon),
       |deg AS (SELECT id, CAST(count(*) AS DOUBLE) AS d FROM nbr GROUP BY id),
       |pairs AS (SELECT range AS a, range + 1 AS b FROM range(299)),
       |cmn AS (SELECT p.a, p.b, na.nb AS c FROM pairs p
       |  JOIN nbr na ON na.id = p.a JOIN nbr nb ON nb.id = p.b AND nb.nb = na.nb),
       |cagg AS (SELECT cmn.a, cmn.b, count(*) AS cn,
       |  sum(1.0 / ln(dc.d)) AS aa, sum(1.0 / dc.d) AS ra
       |  FROM cmn JOIN deg dc ON dc.id = cmn.c GROUP BY cmn.a, cmn.b)
       |SELECT p.a, p.b,
       |  CAST(COALESCE(g.cn, 0) AS DOUBLE) AS common_neighbors,
       |  (da.d + db.d - COALESCE(g.cn, 0)) AS total_neighbors,
       |  (da.d * db.d) AS pref_attachment,
       |  ${r6("CAST(COALESCE(g.cn, 0) AS DOUBLE) / (da.d + db.d - COALESCE(g.cn, 0))")} AS jaccard,
       |  ${r6("COALESCE(g.aa, 0.0)")} AS adamic_adar,
       |  ${r6("COALESCE(g.ra, 0.0)")} AS resource_alloc,
       |  CAST(CASE WHEN p.a % 13 = 0 OR p.b % 13 = 0 THEN 0.0
       |            WHEN p.a % 7 = p.b % 7 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS same_community
       |FROM pairs p JOIN deg da ON da.id = p.a JOIN deg db ON db.id = p.b
       |LEFT JOIN cagg g ON g.a = p.a AND g.b = p.b
       |ORDER BY p.a""".stripMargin
  }

  /** Exact replay of SplitRelationships.split on the dense graph's distinct
    * directed edges: same md5 holdout draw (threshold 0x3333 = fraction 0.2),
    * same LCG negative candidates, same anti-join. */
  private val SplitRelsSql: String =
    s"""WITH edges_d AS (SELECT DISTINCT src, dst FROM ($DenseEdgesSql) t),
       |nn AS (SELECT count(*) AS n FROM (SELECT src AS id FROM edges_d UNION SELECT dst FROM edges_d) u),
       |tagged AS (SELECT src, dst,
       |  substr(md5(concat_ws(':', src, dst, 7)), 1, 4) < '3333' AS hold FROM edges_d),
       |holdpos AS (SELECT src, dst FROM tagged WHERE hold),
       |ranked AS (SELECT src, dst,
       |  row_number() OVER (PARTITION BY src ORDER BY dst) AS r FROM holdpos),
       |cands AS (SELECT DISTINCT src,
       |  ((src % 1000003) * 48271 + (r + 1) * 16807 + 7) % (SELECT n FROM nn) AS dst
       |  FROM ranked),
       |negs AS (SELECT c.src, c.dst FROM cands c WHERE c.dst <> c.src
       |  AND NOT EXISTS (SELECT 1 FROM edges_d e WHERE e.src = c.src AND e.dst = c.dst))
       |SELECT src, dst, 1.0 AS label, 'holdout' AS split FROM holdpos
       |UNION ALL SELECT src, dst, 0.0, 'holdout' FROM negs
       |UNION ALL SELECT src, dst, 1.0, 'remaining' FROM tagged WHERE NOT hold
       |ORDER BY split, label, src, dst""".stripMargin

  /** Exact replay of Pages.canonicalizeUrl + Pages.hostOf: every regexp can
    * match at most once, so DuckDB's replace-first equals Spark's
    * replace-all on these patterns. */
  private val UrlCanonSql: String =
    """WITH u AS (SELECT
      |  concat(CASE WHEN o_orderkey % 2 = 0
      |    THEN concat('HTTP://Host-', CAST(o_custkey % 50 AS VARCHAR), '.Example:80/Path/')
      |    ELSE concat('https://User@host-', CAST(o_custkey % 50 AS VARCHAR), '.example:443/Path/') END,
      |    CAST(o_orderkey AS VARCHAR),
      |    CASE WHEN o_orderkey % 3 = 0 THEN '#frag' ELSE '' END) AS url
      |  FROM orders),
      |p AS (SELECT url, regexp_replace(url, '#.*$', '') AS nofrag FROM u),
      |q AS (SELECT url, nofrag,
      |  lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |  regexp_extract(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS authraw,
      |  regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '') AS tail
      |  FROM p)
      |SELECT url,
      |  concat(scheme, '://',
      |    CASE WHEN scheme = 'http' THEN regexp_replace(lower(authraw), ':80$', '')
      |         WHEN scheme = 'https' THEN regexp_replace(lower(authraw), ':443$', '')
      |         ELSE lower(authraw) END,
      |    CASE WHEN tail = '' THEN '/' ELSE tail END) AS canon,
      |  lower(regexp_replace(regexp_replace(authraw, '^[^@]*@', ''), ':[0-9]+$', '')) AS host
      |FROM q ORDER BY url""".stripMargin

  private val ExecStatsSql: String = {
    val pr = pagerankSql(OrdersEdgesSql, supersteps = 8, weighted = false)
    s"""WITH prq AS (SELECT * FROM ($pr) t)
       |SELECT count(*) AS stats_count,
       |  min(score) AS stats_min, max(score) AS stats_max
       |FROM prq""".stripMargin
  }

  private val ExecMutateSql: String = {
    val pr = pagerankSql(OrdersEdgesSql, supersteps = 8, weighted = false)
    s"""WITH prq AS (SELECT * FROM ($pr) t)
       |SELECT count(*) AS mutated_rows,
       |  floor(sum(score) * 10000.0 + 0.5 + 0.000001) / 10000.0 AS prop_sum,
       |  floor(avg(score) * 10000.0 + 0.5 + 0.000001) / 10000.0 AS prop_mean
       |FROM prq""".stripMargin
  }

  private val ExecWriteSql: String = {
    val pr = pagerankSql(OrdersEdgesSql, supersteps = 8, weighted = false)
    s"""WITH prq AS (SELECT * FROM ($pr) t)
       |SELECT count(*) AS written_rows,
       |  floor(sum(score) * 10000.0 + 0.5 + 0.000001) / 10000.0 AS written_sum
       |FROM prq""".stripMargin
  }

  private val CatalogSql =
    """WITH nc AS (SELECT count(*) AS n FROM customer),
      |verts AS (SELECT c_custkey AS id, c_acctbal FROM customer WHERE c_acctbal > 1000),
      |edges AS (SELECT c_custkey AS src, (c_custkey * 3 + 1) % (SELECT n FROM nc) AS dst FROM customer),
      |kept AS (SELECT e.src, e.dst FROM edges e
      |         JOIN verts a ON e.src = a.id JOIN verts b ON e.dst = b.id)
      |SELECT true AS exists_after_create, true AS listed,
      |  (SELECT count(*) FROM verts) AS sub_vertices,
      |  (SELECT count(*) FROM kept) AS sub_edges,
      |  (SELECT floor(sum(CAST(c_acctbal AS DOUBLE)) + 0.5 + 0.000001) FROM customer) AS acctbal_sum,
      |  CAST(1 AS BIGINT) AS vertex_cols_after_remove,
      |  (SELECT 2 * count(*) FROM customer) AS edges_after_add,
      |  (SELECT count(*) FROM customer) AS sim_typed_edges,
      |  (SELECT count(*) FROM customer) AS edges_after_delete,
      |  true AS dropped""".stripMargin

  private val RoundtripSql =
    s"""WITH edges AS ($DenseEdgesSql), $NodesSql
       |SELECT (SELECT count(*) FROM nodes) AS vertices,
       |  count(*) AS edges, CAST(sum(src * 31 + dst) AS BIGINT) AS edge_checksum
       |FROM edges""".stripMargin

  private val EstimateSql =
    s"""WITH edges AS ($OrdersEdgesSql), $NodesSql,
       |m AS (SELECT (SELECT count(*) FROM nodes) AS n, (SELECT count(*) FROM edges) AS e),
       |f AS (
       |  SELECT 'pageRank' AS algorithm, CAST(32 AS BIGINT) AS srb,
       |         n * 32 AS sb, e * 16 AS mb, n, e FROM m
       |  UNION ALL SELECT 'wcc', 24, n * 24, e * 16, n, e FROM m
       |  UNION ALL SELECT 'labelPropagation', 24, n * 24, e * 16, n, e FROM m
       |  UNION ALL SELECT 'triangleCount', 16, n * 16, e * (e // n) * 24, n, e FROM m
       |  UNION ALL SELECT 'fastRP', 8 + 8 * 64, n * (8 + 8 * 64) * 2, e * 64 * 24, n, e FROM m
       |  UNION ALL SELECT 'knn', 8 + 24 * 10, n * (8 + 24 * 10) * 2, n * 4 * 10 * 10 * 24, n, e FROM m
       |  UNION ALL SELECT 'betweenness', 28, n * 28 * n, n * e * 24, n, e FROM m
       |  UNION ALL SELECT 'louvain', 16, n * 16 * 2, e * 48, n, e FROM m
       |  UNION ALL SELECT 'nodeSimilarity', 24, n * 24 * 10, e * (e // n) * 24, n, e FROM m
       |  UNION ALL SELECT 'spanningTree', 32, n * 32, e * 24, n, e FROM m
       |  UNION ALL SELECT 'minhashLsh', 256, d * 256, d * 16 * 24, d, CAST(0 AS BIGINT)
       |            FROM (SELECT count(*) AS d FROM documents)
       |  UNION ALL SELECT 'annLsh', 520, v * 520, v * 4 * (16 + 8 + 8 * 64), v, CAST(0 AS BIGINT)
       |            FROM (SELECT count(*) AS v FROM embeddings))
       |SELECT algorithm, n AS node_count, e AS relationship_count,
       |  srb AS state_row_bytes, sb AS state_bytes, mb AS msg_bytes,
       |  sb + mb AS bytes_min, (sb + mb) * 3 AS bytes_max
       |FROM f ORDER BY algorithm""".stripMargin

  /** Dijkstra oracle: unrolled relaxation for distances (same chain as
    * ssspSql), then canonical predecessors (min in-neighbor achieving the
    * final distance) and a recursive walk building the path string —
    * mirrors ShortestPaths.dijkstraSingleSource. */
  private def dijkstraPathSql(edgesSql: String, rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""d$k AS (
         |  SELECT u.dst AS id, min(s.dist + u.w) AS dist
         |  FROM undx u JOIN d${k - 1} s ON s.id = u.src GROUP BY u.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE edges AS ($edgesSql),
       |$NodesSql,
       |undx AS (SELECT src, dst, CAST(wseed % 5 + 1 AS DOUBLE) AS w FROM edges
       |         UNION SELECT id, id, 0.0 FROM nodes),
       |d0 AS (SELECT id, CASE WHEN id = 0 THEN 0.0 ELSE 1e18 END AS dist FROM nodes),
       |$steps,
       |dd AS MATERIALIZED (SELECT id, dist FROM d$rounds WHERE dist < 1e18),
       |ew AS MATERIALIZED (SELECT src, dst, CAST(wseed % 5 + 1 AS DOUBLE) AS w FROM edges),
       |preds AS MATERIALIZED (
       |  SELECT v.id, CASE WHEN v.id = 0 THEN NULL ELSE min(u.id) END AS pred
       |  FROM dd v LEFT JOIN ew e ON e.dst = v.id
       |  LEFT JOIN dd u ON u.id = e.src AND u.dist + e.w = v.dist
       |  GROUP BY v.id),
       |walk(node, cur, path) AS (
       |  SELECT id, id, CAST(id AS VARCHAR) FROM dd
       |  UNION ALL
       |  SELECT w.node, p.pred, CAST(p.pred AS VARCHAR) || '->' || w.path
       |  FROM walk w JOIN preds p ON w.cur = p.id
       |  WHERE p.pred IS NOT NULL)
       |SELECT d.id, floor(d.dist * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS dist,
       |  p.pred, wk.path AS path_str
       |FROM dd d JOIN preds p ON d.id = p.id
       |JOIN walk wk ON wk.node = d.id AND wk.cur = 0
       |ORDER BY d.id""".stripMargin
  }

  /** Shared CTE block: all-pairs hop distances over the undirected simple
    * view of `edges`, by unrolled level-set expansion (w_k = pairs within k
    * hops; a pair at distance d appears in levels d..K, so d = K+1-count).
    * Scale-independent — valid for any graph with eccentricity <= levels
    * (deliberately general, unlike a closed form that assumes diameter 2).
    * Every w_k is MATERIALIZED: DuckDB would otherwise inline the chain
    * exponentially. */
  private def undDistCtes(levels: Int): String = {
    val ws = (1 to levels).map { k =>
      s"""w$k AS MATERIALIZED (SELECT s, v FROM w${k - 1}
         |  UNION SELECT w.s, u.dst FROM w${k - 1} w JOIN und u ON w.v = u.src)""".stripMargin
    }.mkString(",\n")
    val lv = (0 to levels).map(k => s"SELECT s, v FROM w$k").mkString(" UNION ALL ")
    s"""und AS MATERIALIZED (SELECT DISTINCT src, dst FROM
       |  (SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges)
       |  WHERE src <> dst),
       |w0 AS MATERIALIZED (SELECT id AS s, id AS v FROM nodes),
       |$ws,
       |lv AS ($lv),
       |dist AS MATERIALIZED (SELECT s, v, ${levels + 1} - count(*) AS d FROM lv GROUP BY s, v)""".stripMargin
  }

  /** Brandes betweenness oracle, general form: sigma built level-by-level
    * (sigma_k(s,v) = sum of sigma over dist-(k-1) in-neighbors), then the
    * pair-dependency identity delta(v) = sum over (s,t) with
    * d(s,v)+d(v,t)=d(s,t) of sigma(s,v)*sigma(v,t)/sigma(s,t), halved
    * (undirected divisor, BetweennessCentrality.java:74,:185). Uses
    * sigma(v,t)=sigma(t,v) symmetry of the undirected view. */
  private def betweennessSql(edgesSql: String, levels: Int = 8): String = {
    val gs = (1 to levels).map { k =>
      s"""g$k AS MATERIALIZED (
         |  SELECT p.s, dd.v, sum(p.sigma) AS sigma
         |  FROM g${k - 1} p JOIN und e ON p.v = e.src
         |  JOIN dist dd ON dd.s = p.s AND dd.v = e.dst AND dd.d = $k
         |  GROUP BY p.s, dd.v)""".stripMargin
    }.mkString(",\n")
    val sigUnion = (0 to levels)
      .map(k => s"SELECT s, v, sigma, $k AS d FROM g$k").mkString(" UNION ALL ")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |${undDistCtes(levels)},
       |g0 AS MATERIALIZED (SELECT s, v, CAST(1 AS DOUBLE) AS sigma FROM dist WHERE d = 0),
       |$gs,
       |sig AS MATERIALIZED ($sigUnion),
       |pairdep AS (
       |  SELECT a.v AS id, sum(a.sigma * b.sigma / st.sigma) AS c
       |  FROM sig a
       |  JOIN sig b ON b.v = a.v AND b.s <> a.s AND a.d > 0 AND b.d > 0
       |  JOIN sig st ON st.s = a.s AND st.v = b.s AND st.d = a.d + b.d
       |  GROUP BY a.v)
       |SELECT n.id,
       |  floor(COALESCE(p.c, 0.0) / 2.0 * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS centrality
       |FROM nodes n LEFT JOIN pairdep p ON n.id = p.id
       |ORDER BY n.id""".stripMargin
  }

  /** Closeness / harmonic oracle, general form over all-pairs hop distances:
    * farness(v) = sum dist(s,v), comp = reached count, closeness =
    * comp/farness (MSClosenessCentrality.java:148-156); harmonic =
    * sum(1/dist)/(n-1) (HarmonicCentrality.java:56-70). Unreachable sources
    * simply don't contribute — matches the Spark MS-BFS exactly at any SF. */
  private def closenessSql(edgesSql: String, harmonic: Boolean, levels: Int = 8): String = {
    val cent =
      if (harmonic) "COALESCE(a.inv, 0.0) / (t.n - 1)"
      else "CASE WHEN a.farness IS NULL OR a.farness = 0 THEN 0.0 ELSE a.comp / a.farness END"
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |${undDistCtes(levels)},
       |agg AS (SELECT v AS id, CAST(sum(d) AS DOUBLE) AS farness,
       |               CAST(count(*) AS DOUBLE) AS comp,
       |               sum(1.0 / d) AS inv
       |        FROM dist WHERE d > 0 GROUP BY v),
       |t AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes)
       |SELECT n.id,
       |  floor(($cent) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS centrality
       |FROM nodes n LEFT JOIN agg a ON n.id = a.id, t
       |ORDER BY n.id""".stripMargin
  }

  /** SCC oracle: full reachability closure via recursive CTE; SCC =
    * mutual-reach equivalence class, canonical id = min member. */
  private def sccSql(edgesSql: String): String =
    s"""WITH RECURSIVE edges AS ($edgesSql),
       |$NodesSql,
       |reach(s, v) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT r.s, e.dst FROM reach r JOIN edges e ON r.v = e.src)
       |SELECT a.s AS id, min(a.v) AS sccId
       |FROM reach a JOIN reach b ON a.s = b.v AND a.v = b.s
       |GROUP BY a.s ORDER BY a.s""".stripMargin

  /** HITS oracle: alternating hub/authority aggregation with per-half-step
    * L2 normalization as scalar subqueries, unrolled — mirrors
    * graft.algo.Hits (init hub=auth=1; auth from in-edge hub sums, then hub
    * from out-edge normalized-auth sums; zero norms guarded to 1). */
  /** Replays graft.algo.Hits exactly: UNNORMALIZED alternating sums (HITS is
    * linear, so per-half-step L2 normalization is a common positive scale)
    * with ONE final L2 normalization per column. Assumes
    * iterations < Hits.RescaleEvery (4; no in-loop rescale fires). */
  private def hitsSql(edgesSql: String, iterations: Int): String = {
    val steps = (1 to iterations).map { k =>
      val p = s"h${k - 1}"
      s"""ar$k AS (
         |  SELECT e.dst AS id, sum(s.hub) AS a
         |  FROM $p s JOIN edges e ON s.id = e.src GROUP BY e.dst),
         |a$k AS (
         |  SELECT s.id, s.hub, COALESCE(ar.a, 0.0) AS auth
         |  FROM $p s LEFT JOIN ar$k ar ON s.id = ar.id),
         |hr$k AS (
         |  SELECT e.src AS id, sum(s.auth) AS h
         |  FROM a$k s JOIN edges e ON s.id = e.dst GROUP BY e.src),
         |h$k AS (
         |  SELECT s.id, COALESCE(hr.h, 0.0) AS hub, s.auth
         |  FROM a$k s LEFT JOIN hr$k hr ON s.id = hr.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |h0 AS (SELECT id, 1.0 AS hub, 1.0 AS auth FROM nodes),
       |$steps,
       |fin AS (
       |  SELECT id,
       |    hub / (SELECT CASE WHEN sqrt(sum(hub * hub)) = 0 THEN 1.0
       |      ELSE sqrt(sum(hub * hub)) END FROM h$iterations) AS hub,
       |    auth / (SELECT CASE WHEN sqrt(sum(auth * auth)) = 0 THEN 1.0
       |      ELSE sqrt(sum(auth * auth)) END FROM h$iterations) AS auth
       |  FROM h$iterations)
       |SELECT id, floor(hub * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS hub,
       |  floor(auth * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS auth
       |FROM fin ORDER BY id""".stripMargin
  }

  /** Louvain level-1 single-FullSync-round oracle: from singleton
    * communities, every node moves to argmax_C [w(i,C) - k_i * tot_C / 2m]
    * (ties to the smaller community id) iff the gain strictly beats staying
    * (gain 0 at singletons). Mirrors graft.algo.Louvain.localMoves exactly;
    * all quantities are integer-valued doubles so the IEEE arithmetic is
    * engine-independent. */
  private def louvainL1Sql(edgesSql: String): String =
    s"""WITH edges0 AS ($edgesSql),
       |e1 AS (SELECT src, dst FROM edges0 WHERE src <> dst),
       |sym AS (SELECT src, dst, CAST(count(*) AS DOUBLE) AS w FROM
       |        (SELECT src, dst FROM e1 UNION ALL SELECT dst AS src, src AS dst FROM e1)
       |        GROUP BY src, dst),
       |nodes AS (SELECT src AS id FROM edges0 UNION SELECT dst FROM edges0),
       |selfw AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS sw
       |          FROM edges0 WHERE src = dst GROUP BY src),
       |kk AS (SELECT n.id, COALESCE(s.kv, 0.0) + 2.0 * COALESCE(sf.sw, 0.0) AS k
       |       FROM nodes n
       |       LEFT JOIN (SELECT src AS id, sum(w) AS kv FROM sym GROUP BY src) s ON n.id = s.id
       |       LEFT JOIN selfw sf ON n.id = sf.id),
       |m2 AS (SELECT sum(k) AS v FROM kk),
       |cand AS (
       |  SELECT s.src AS id, s.dst AS cand, s.w FROM sym s
       |  UNION ALL SELECT id, id, 0.0 FROM kk),
       |gains AS (
       |  SELECT c.id, c.cand,
       |    c.w - k1.k * (k2.k - CASE WHEN c.cand = c.id THEN k1.k ELSE 0.0 END)
       |          / (SELECT v FROM m2) AS gain
       |  FROM cand c JOIN kk k1 ON c.id = k1.id JOIN kk k2 ON c.cand = k2.id),
       |best AS (SELECT id, cand, gain,
       |  row_number() OVER (PARTITION BY id ORDER BY gain DESC, cand ASC) AS rn FROM gains),
       |stay AS (SELECT id, gain AS sg FROM gains WHERE cand = id)
       |SELECT b.id,
       |  CASE WHEN b.gain > s.sg AND b.cand <> b.id THEN b.cand ELSE b.id END AS communityId
       |FROM best b JOIN stay s ON b.id = s.id WHERE b.rn = 1 ORDER BY b.id""".stripMargin

  /** Brute-force all-pairs exact 3-gram-shingle Jaccard >= threshold —
    * the oracle for the LSH-pruned exact near-dup query (LSH misses a true
    * pair with probability < 1e-7 under 16x2 banding). Mirrors
    * Dedup.shingles: normalized text, word 3-grams, whole text when < 3
    * words; filter applies to the 6dp-rounded value exactly like the Spark
    * side. */
  /** Shared int8-quantization CTE (codes(vec_id, scale, qv)) — the exact
    * arithmetic of Ann.scalarQuantize: per-vector scale max|x|/127,
    * round-half-up codes via the cross-engine floor(x+0.5) form. */
  private val QuantizeCodesSql: String =
    """qz AS (
      |  SELECT vec_id,
      |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
      |      'max') / 127.0 AS scale,
      |    embedding
      |  FROM embeddings WHERE vec_id < 200),
      |codes AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding, x -> CAST(least(greatest(
      |      CASE WHEN scale = 0 THEN 0.0
      |           ELSE floor(CAST(x AS DOUBLE) / scale + 0.5) END,
      |      -127.0), 127.0) AS INT)) AS qv
      |  FROM qz)""".stripMargin

  /** Connected components over the brute-force >=threshold Jaccard pair
    * graph via recursive min-label reachability — the independent replay of
    * Dedup.nearDupClusters (LSH pairs + WCC hash-min labels). */
  private def nearDupClustersSql(threshold: Double): String =
    s"""WITH RECURSIVE norm AS (SELECT doc_id AS id,
       |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |words AS (SELECT id, t, regexp_split_to_array(t, ' ') AS w FROM norm),
       |sh AS (
       |  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i
       |        FROM words WHERE len(w) >= 3)
       |  UNION
       |  SELECT DISTINCT id, t AS s FROM words WHERE len(w) < 3),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM inter i
       |  JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b
       |  WHERE CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) >= $threshold),
       |und AS (SELECT id_a AS a, id_b AS b FROM pairs
       |        UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT id, id AS label FROM norm
       |  UNION
       |  SELECT u.b AS id, r.label FROM reach r JOIN und u ON u.a = r.id)
       |SELECT CAST(id AS BIGINT) AS id, CAST(min(label) AS BIGINT) AS cluster
       |FROM reach GROUP BY id ORDER BY id""".stripMargin

  /** 5-gram contamination oracle: string-gram equi-join against the planted
    * doc_id %% 7 benchmark subset (engine joins xxhash64 of the same grams). */
  private val ContaminationSql: String =
    s"""WITH norm AS (SELECT doc_id AS id,
       |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |words AS (SELECT id, t, regexp_split_to_array(t, ' ') AS w FROM norm),
       |sh AS (
       |  SELECT DISTINCT id,
       |    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS s
       |  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 4)) AS i
       |        FROM words WHERE len(w) >= 5)
       |  UNION
       |  SELECT DISTINCT id, t AS s FROM words WHERE len(w) < 5),
       |bench AS (SELECT DISTINCT s FROM sh WHERE id % 7 = 0),
       |totals AS (SELECT id, count(*) AS total_ngrams FROM sh GROUP BY id),
       |hits AS (SELECT sh.id, count(*) AS contaminated_ngrams
       |         FROM sh JOIN bench ON sh.s = bench.s GROUP BY sh.id)
       |SELECT CAST(t.id AS BIGINT) AS id,
       |  CAST(COALESCE(h.contaminated_ngrams, 0) AS BIGINT) AS contaminated_ngrams,
       |  CAST(t.total_ngrams AS BIGINT) AS total_ngrams,
       |  ${graft.core.Num.roundSql(
             "CAST(COALESCE(h.contaminated_ngrams, 0) AS DOUBLE) / t.total_ngrams", 6)}
       |    AS contamination
       |FROM totals t LEFT JOIN hits h ON h.id = t.id ORDER BY t.id""".stripMargin

  /** C4 line-audit oracle: same derived lines, same keep rules, same reason
    * precedence (blocklist > no_terminal_punct > too_short). */
  private val C4CleanSql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS w FROM documents),
      |c AS (SELECT doc_id,
      |  COALESCE(array_to_string(w[1:8], ' '), '')   AS c0,
      |  COALESCE(array_to_string(w[9:16], ' '), '')  AS c1,
      |  COALESCE(array_to_string(w[17:24], ' '), '') AS c2,
      |  COALESCE(array_to_string(w[25:32], ' '), '') AS c3
      |  FROM d),
      |l AS (
      |  SELECT doc_id, idx AS line_idx,
      |    CASE WHEN idx = 3 AND doc_id % 31 = 0 THEN 'lorem ipsum dolor sit amet.'
      |         WHEN (doc_id + idx) % 3 = 0 THEN ch || '.'
      |         ELSE ch END AS line
      |  FROM (SELECT doc_id, unnest([c0, c1, c2, c3]) AS ch,
      |               unnest([0, 1, 2, 3]) AS idx FROM c)),
      |a AS (
      |  SELECT doc_id AS id, line_idx, line,
      |    len(regexp_split_to_array(trim(line), '\s+')) AS words,
      |    regexp_matches(line, '[.!?"]\s*$') AS terminal,
      |    (contains(line, 'lorem ipsum') OR contains(line, '{')
      |      OR contains(line, 'javascript')) AS blocked
      |  FROM l)
      |SELECT CAST(id AS BIGINT) AS id, CAST(line_idx AS INT) AS line_idx, line,
      |  (terminal AND words >= 5 AND NOT blocked) AS kept,
      |  CASE WHEN blocked THEN 'blocklist'
      |       WHEN NOT terminal THEN 'no_terminal_punct'
      |       WHEN words < 5 THEN 'too_short'
      |       ELSE 'kept' END AS reason
      |FROM a ORDER BY id, line_idx""".stripMargin

  /** Paragraph-dedup oracle: first corpus-wide occurrence per normalized
    * fingerprint, first = smallest (doc, position) — the engine's
    * min(struct) is the same lexicographic order as ORDER BY id, par_idx. */
  private val ParagraphDedupSql: String =
    """WITH d AS (SELECT doc_id, regexp_split_to_array(text, ' ') AS w FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    unnest(['shared header for group ' || CAST(doc_id - doc_id % 5 AS VARCHAR),
      |            COALESCE(array_to_string(w[1:8], ' '), ''),
      |            COALESCE(array_to_string(w[9:16], ' '), '')]) AS par,
      |    unnest([0, 1, 2]) AS par_idx
      |  FROM d),
      |f AS (
      |  SELECT doc_id AS id, par_idx,
      |    md5(trim(regexp_replace(lower(par), '\s+', ' ', 'g'))) AS fp
      |  FROM p)
      |SELECT CAST(id AS BIGINT) AS id, CAST(par_idx AS INT) AS par_idx,
      |  (row_number() OVER (PARTITION BY fp ORDER BY id, par_idx) = 1) AS kept
      |FROM f ORDER BY id, par_idx""".stripMargin

  private def neardupJaccardSql(threshold: Double): String =
    s"""WITH norm AS (SELECT doc_id AS id,
       |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
       |words AS (SELECT id, t, regexp_split_to_array(t, ' ') AS w FROM norm),
       |sh AS (
       |  SELECT DISTINCT id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
       |  FROM (SELECT id, w, unnest(generate_series(1, len(w) - 2)) AS i
       |        FROM words WHERE len(w) >= 3)
       |  UNION
       |  SELECT DISTINCT id, t AS s FROM words WHERE len(w) < 3),
       |sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY 1, 2),
       |j AS (
       |  SELECT id_a, id_b,
       |    floor(CAST(i.i AS DOUBLE) / (sa.sz + sb.sz - i.i) * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS jaccard
       |  FROM inter i JOIN sizes sa ON sa.id = i.id_a JOIN sizes sb ON sb.id = i.id_b)
       |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= $threshold
       |ORDER BY id_a, id_b""".stripMargin

  /** BFS oracle: unrolled frontier relaxation (same structure as wccSql,
    * single-reference chain via self-loop edges carrying own distance). */
  private def bfsSql(edgesSql: String, maxDepth: Int): String = {
    val steps = (1 to maxDepth).map { k =>
      s"""d$k AS (
         |  SELECT u.dst AS id, min(s.dist + u.w) AS dist
         |  FROM undx u JOIN d${k - 1} s ON s.id = u.src GROUP BY u.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |undx AS (SELECT src, dst, 1 AS w FROM edges
       |         UNION SELECT id, id, 0 FROM nodes),
       |d0 AS (SELECT id, CASE WHEN id = 0 THEN 0 ELSE 1000000000 END AS dist FROM nodes),
       |$steps
       |SELECT id, CAST(dist AS BIGINT) AS dist FROM d$maxDepth
       |WHERE dist < 1000000000 ORDER BY id""".stripMargin
  }

  /** Multi-source all-pairs BFS oracle: like bfsSql but state is keyed by
    * (source, node); seeds are the sources only (the self-loop rows keep
    * reached pairs monotone across steps). */
  private def allPairsSql(edgesSql: String, maxDepth: Int, maxSource: Int): String = {
    val steps = (1 to maxDepth).map { k =>
      s"""p$k AS (
         |  SELECT p.s, u.dst AS id, min(p.dist + u.w) AS dist
         |  FROM undx u JOIN p${k - 1} p ON p.id = u.src GROUP BY p.s, u.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |undx AS (SELECT DISTINCT src, dst, 1 AS w FROM edges
       |         UNION SELECT id, id, 0 FROM nodes),
       |p0 AS (SELECT id AS s, id, 0 AS dist FROM nodes WHERE id < $maxSource),
       |$steps
       |SELECT s AS sourceNodeId, id AS targetNodeId,
       |       CAST(dist AS DOUBLE) AS distance
       |FROM p$maxDepth ORDER BY sourceNodeId, targetNodeId""".stripMargin
  }

  /** Weighted all-pairs oracle: per-source Bellman-Ford rounds (self-loop
    * w=0 keeps reached mins monotone), weights from `wseed % 5 + 1` exactly
    * like ssspSql. Integer-valued weights keep the FP sums exact, so the
    * unrolled rounds equal the engine's fixpoint once rounds >= the longest
    * optimal path's hop count. */
  private def weightedAllPairsSql(edgesSql: String, rounds: Int, maxSource: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""p$k AS (
         |  SELECT p.s, u.dst AS id, min(p.dist + u.w) AS dist
         |  FROM undx u JOIN p${k - 1} p ON p.id = u.src GROUP BY p.s, u.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |undx AS (SELECT src, dst, CAST(wseed % 5 + 1 AS DOUBLE) AS w FROM edges
       |         UNION SELECT id, id, 0.0 FROM nodes),
       |p0 AS (SELECT id AS s, id, 0.0 AS dist FROM nodes WHERE id < $maxSource),
       |$steps
       |SELECT s AS sourceNodeId, id AS targetNodeId,
       |       ${graft.core.Num.roundSql("dist", 6)} AS distance
       |FROM p$rounds ORDER BY sourceNodeId, targetNodeId""".stripMargin
  }

  /** SSSP oracle: like bfsSql with per-edge weights (weight derived in the
    * edges SQL as `wseed % 5 + 1`). */
  private def ssspSql(edgesSql: String, rounds: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""d$k AS (
         |  SELECT u.dst AS id, min(s.dist + u.w) AS dist
         |  FROM undx u JOIN d${k - 1} s ON s.id = u.src GROUP BY u.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |undx AS (SELECT src, dst, CAST(wseed % 5 + 1 AS DOUBLE) AS w FROM edges
       |         UNION SELECT id, id, 0.0 FROM nodes),
       |d0 AS (SELECT id, CASE WHEN id = 0 THEN 0.0 ELSE 1e18 END AS dist FROM nodes),
       |$steps
       |SELECT id, floor(dist * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS dist FROM d$rounds
       |WHERE dist < 1e18 ORDER BY id""".stripMargin
  }

  /** Eigenvector oracle: power iteration on (A+I) with per-superstep L2
    * normalization as scalar subqueries, unrolled — mirrors
    * graft.algo.Eigenvector (messages carry the UNNORMALIZED next value). */
  private def eigenvectorSql(edgesSql: String, supersteps: Int): String = {
    val steps = (1 until supersteps).map { k =>
      val p = s"s${k - 1}"
      s"""m$k AS (
         |  SELECT e.dst AS id, sum(s.next) AS msum
         |  FROM $p s JOIN edges e ON s.id = e.src GROUP BY e.dst),
         |r$k AS (
         |  SELECT s.id, s.rank + COALESCE(m.msum, 0.0) AS next, s.rank
         |  FROM $p s LEFT JOIN m$k m ON s.id = m.id),
         |s$k AS (
         |  SELECT id, next / (SELECT sqrt(sum(next * next)) FROM r$k) AS rank, next
         |  FROM r$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($edgesSql),
       |$NodesSql,
       |n0 AS (SELECT id, 1.0 / (SELECT count(*) FROM nodes) AS next FROM nodes),
       |s0 AS (SELECT id, next / (SELECT sqrt(sum(next * next)) FROM n0) AS rank, next FROM n0),
       |$steps
       |SELECT id, floor(rank * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS score
       |FROM s${supersteps - 1} ORDER BY id""".stripMargin
  }

  /** Quality-score oracle — must mirror TextOps.qualityScore bit-for-bit:
    * nested 6-dp rounds included. */
  private def qualitySql: String = {
    val tokens = """CASE WHEN length(trim(text)) = 0 THEN 0
      ELSE length(regexp_split_to_array(trim(text), '\s+')) END"""
    val punctRatio = s"""floor((CASE WHEN length(text) = 0 THEN 0.0
      ELSE CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) / length(text) END) * 1000000.0 + 0.5 + 0.000001) / 1000000.0"""
    val stopCount = Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
      .map(w => s"length(regexp_extract_all(lower(text), '\\b$w\\b'))").mkString(" + ")
    val stopRatio = s"""floor((CASE WHEN ($tokens) = 0 THEN 0.0
      ELSE CAST($stopCount AS DOUBLE) / ($tokens) END) * 1000000.0 + 0.5 + 0.000001) / 1000000.0"""
    s"""SELECT doc_id, floor((
       |  least(CAST($tokens AS DOUBLE) / 256.0, 1.0) +
       |  greatest(0.0, 1.0 - ($punctRatio) * 5.0) +
       |  least(($stopRatio) / 0.4, 1.0)) / 3.0 * 1000000.0 + 0.5 + 0.000001) / 1000000.0 AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  private def langIdSql: String = {
    val tokens = """CASE WHEN length(trim(text)) = 0 THEN 0
      ELSE length(regexp_split_to_array(trim(text), '\s+')) END"""
    val stopCount = Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")
      .map(w => s"length(regexp_extract_all(lower(text), '\\b$w\\b'))").mkString(" + ")
    val stopRatio = s"""floor((CASE WHEN ($tokens) = 0 THEN 0.0
      ELSE CAST($stopCount AS DOUBLE) / ($tokens) END) * 1000000.0 + 0.5 + 0.000001) / 1000000.0"""
    s"""SELECT doc_id,
       |  CASE WHEN length(text) = 0 THEN 'unknown'
       |       WHEN CAST(length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS DOUBLE)
       |            / length(text) < 0.5 THEN 'non_latin'
       |       WHEN ($stopRatio) >= 0.08 THEN 'en'
       |       ELSE 'latin_other' END AS predicted_lang
       |FROM documents ORDER BY doc_id""".stripMargin
  }
}
