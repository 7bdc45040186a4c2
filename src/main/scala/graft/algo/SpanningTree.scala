package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.SuperstepLoop

/** Minimum / maximum spanning tree and k-spanning-tree clustering.
  *
  * Reference: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/spanningTrees/
  * {Prim.java,KSpanningTree.java} — a sequential binary-heap Prim from a
  * start node. A heap does not distribute; the Spark formulation is Borůvka
  * (the classic parallel MST, equivalent to Prim's tree on distinct weights,
  * deterministic tie-breaks otherwise):
  *
  *  repeat until no cross-component edges remain:
  *    1. every component selects its lightest outgoing edge (groupBy +
  *       min(struct), map-side combinable, deterministic ties by endpoint);
  *    2. selected edges join the tree; touching components merge via
  *       pointer-doubling on the selection pseudo-forest (O(log chain)
  *       self-joins, never O(diameter));
  *  components at least halve per round, so rounds ≤ log2(n).
  *
  * Like [[Scc]], the tail is handed to the driver: once the remaining
  * cross-component edge set is below `localSolveThreshold` rows it is
  * collected and finished with sequential Kruskal — at web scale Borůvka
  * rounds shrink the component graph geometrically, so this caps the round
  * count without touching the at-scale path.
  *
  * `run` returns the spanning forest; `startNode` restricts the output to
  * the start node's component (Prim parity). Max variant negates weights.
  */
object SpanningTree {

  final case class Result(treeEdges: DataFrame, rounds: Int)

  def run(graph: PropertyGraph, startNode: Option[Long] = None,
          minimize: Boolean = true, maxRounds: Int = 64,
          localSolveThreshold: Long = 100000L): Result = {
    val spark = graph.edges.sparkSession
    val parts = GraphOps.adaptiveParts(spark, graph.edges.count())
    GraphOps.withShuffleWidth(spark, parts) {
    import spark.implicits._

    // Canonical undirected weighted edges: one row per {a,b}, deterministic
    // weight (min for MST, max for the max variant), self-loops dropped.
    val w0 = GraphOps.withWeight(graph.edges)
    val wAgg = if (minimize) min(col("weight")) else max(col("weight"))
    val canon = w0
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"), col("weight"))
      .groupBy("a", "b").agg(wAgg.as("weight"))
      .repartition(parts, col("a")).persist()
    canon.count()

    // eff = the weight actually minimized (negated for max spanning tree)
    val eff = if (minimize) col("weight") else -col("weight")

    // `compHandle` holds the storage; `comp` is the plan-truncated view of it
    // (unpersisting the view would release nothing)
    var compHandle = graph.vertices.select(col("id"), col("id").as("comp"))
      .repartition(parts, col("id")).persist()
    compHandle.count()
    var comp = compHandle

    var tree = List.empty[DataFrame]
    var rounds = 0
    var done = false

    while (!done && rounds < maxRounds) {
      rounds += 1
      // cross-component edge view: (ca, cb, a, b, weight, eff)
      val cross = canon
        .join(comp.select(col("id").as("a"), col("comp").as("ca")), "a")
        .join(comp.select(col("id").as("b"), col("comp").as("cb")), "b")
        .filter(col("ca") =!= col("cb"))
        .select(col("a"), col("b"), col("weight"), eff.as("eff"),
                col("ca"), col("cb"))
        .persist()
      val crossCount = cross.count()

      if (crossCount == 0L) {
        done = true
        cross.unpersist(false)
      } else if (crossCount <= localSolveThreshold) {
        // Tail handoff: Kruskal over the component graph on the driver.
        val rows = cross
          .select("ca", "cb", "eff", "a", "b", "weight").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
                     r.getLong(3), r.getLong(4), r.getDouble(5)))
          .sortBy { case (_, _, e, a, b, _) => (e, a, b) }
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
        val picked = rows.flatMap { case (ca, cb, _, a, b, wgt) =>
          val (ra, rb) = (find(ca), find(cb))
          if (ra != rb) {
            parent.put(math.max(ra, rb), math.min(ra, rb))
            Some((a, b, wgt))
          } else None
        }
        if (picked.nonEmpty)
          tree ::= spark.sparkContext
            .parallelize(picked.toSeq, math.max(1, parts / 4))
            .toDF("a", "b", "weight").persist()
        // final labels: route every component to its union-find root
        val roots = comp.select("comp").distinct().collect().map(_.getLong(0))
          .map(c => (c, find(c)))
        val rootMap = spark.sparkContext
          .parallelize(roots.toSeq, math.max(1, parts / 4))
          .toDF("comp", "root")
        val newComp = comp.join(broadcast(rootMap), Seq("comp"), "left")
          .select(col("id"), coalesce(col("root"), col("comp")).as("comp"))
          .repartition(parts, col("id")).persist()
        newComp.count()
        compHandle.unpersist(false); cross.unpersist(false)
        compHandle = newComp
        comp = newComp
        done = true
      } else {
        // 1. lightest outgoing edge per component (both orientations so each
        // side of an edge competes in its own component's selection)
        val sym = cross.select(col("ca").as("c"),
            struct(col("eff"), col("a"), col("b"), col("weight"),
                   col("cb").as("other")).as("pick"))
          .unionByName(cross.select(col("cb").as("c"),
            struct(col("eff"), col("a"), col("b"), col("weight"),
                   col("ca").as("other")).as("pick")))
        val chosen = sym.groupBy("c").agg(min("pick").as("pick"))
          .select(col("c"), col("pick.a").as("a"), col("pick.b").as("b"),
                  col("pick.weight").as("weight"), col("pick.other").as("other"))
          .persist()
        chosen.count()

        val piece = chosen.select("a", "b", "weight").distinct().persist()
        piece.count()
        tree ::= piece

        // 2. merge: selection pseudo-forest parent(c) = other(c); 2-cycles
        // (mutual picks) are rooted at the smaller id, then pointer-doubled.
        val rawPar = chosen.select(col("c"), col("other").as("par"))
        var parHandle = rawPar.alias("p")
          .join(rawPar.alias("q"), col("p.par") === col("q.c"), "left")
          .select(col("p.c").as("c"),
            when(col("q.par") === col("p.c") && col("p.c") < col("p.par"),
                 col("p.c")).otherwise(col("p.par")).as("par"))
          .repartition(parts, col("c")).persist()
        parHandle.count()
        var par = parHandle
        var jumping = true
        var jumps = 0
        while (jumping && jumps < 64) {
          jumps += 1
          val nxt0 = par.alias("p")
            .join(par.alias("q"), col("p.par") === col("q.c"), "left")
            .select(col("p.c").as("c"),
                    coalesce(col("q.par"), col("p.par")).as("par"))
            .repartition(parts, col("c")).persist()
          // plan-truncate EVERY jump: the self-join references `par` twice,
          // so without the cut the logical plan DOUBLES per jump — a long
          // selection chain (a path graph: ~log2(n/2) jumps) exponentiates
          // driver-side analysis into a heap-space death (caught by the
          // forced-distributed q_spanning_tree_dist oracle row)
          val nxt = org.apache.spark.sql.GraftSqlCompat.truncatePlan(nxt0)
          val moved = nxt.alias("n")
            .join(par.alias("o"), col("n.c") === col("o.c"))
            .filter(col("n.par") =!= col("o.par")).count()
          parHandle.unpersist(false)
          parHandle = nxt0
          par = nxt
          jumping = moved > 0
        }
        val newComp = comp
          .join(par.withColumnRenamed("c", "comp"), Seq("comp"), "left")
          .select(col("id"), coalesce(col("par"), col("comp")).as("comp"))
          .repartition(parts, col("id")).persist()
        newComp.count()
        compHandle.unpersist(false); chosen.unpersist(false)
        parHandle.unpersist(false); cross.unpersist(false)
        // plan-truncate: comp is referenced twice per Borůvka round (join on
        // a and on b) — without the cut the logical plan doubles per round
        compHandle = newComp
        comp = org.apache.spark.sql.GraftSqlCompat.truncatePlan(newComp)
      }
    }

    val forest = tree match {
      case Nil => canon.select(col("a"), col("b"), col("weight")).limit(0)
      case l   => l.reduce(_ unionByName _)
    }
    val restricted = startNode match {
      case None => forest
      case Some(s) =>
        val target = comp.filter(col("id") === lit(s)).select("comp")
        forest.join(comp.withColumnRenamed("id", "a")
            .withColumnRenamed("comp", "__ca"), Seq("a"))
          .join(broadcast(target), col("__ca") === col("comp"))
          .select(col("a"), col("b"), col("weight"))
    }
    val out = restricted.select(col("a").as("src"), col("b").as("dst"),
      col("weight")).persist()
    out.count()
    canon.unpersist(false); compHandle.unpersist(false)
    tree.foreach(_.unpersist(false))
    Result(out, rounds)
    }
  }

  /** K-spanning-tree clustering (reference KSpanningTree.java): compute the
    * spanning tree, cut the k-1 heaviest (min variant; lightest for max)
    * tree edges, label the k resulting clusters by smallest member id. */
  def kSpanningTree(graph: PropertyGraph, k: Int,
                    startNode: Option[Long] = None,
                    minimize: Boolean = true,
                    localSolveThreshold: Long = 100000L): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val r = run(graph, startNode, minimize, localSolveThreshold = localSolveThreshold)
    // cut the k-1 heaviest (min variant) tree edges: TakeOrdered limit —
    // distributed top-k, never a single-partition global sort/window
    val ord =
      if (minimize) Seq(col("weight").desc, col("src").asc, col("dst").asc)
      else Seq(col("weight").asc, col("src").asc, col("dst").asc)
    val cut = r.treeEdges.orderBy(ord: _*).limit(k - 1)
    val kept = r.treeEdges.join(cut.select("src", "dst"), Seq("src", "dst"), "left_anti")
    // membership = nodes of the (possibly restricted) tree
    val nodes = r.treeEdges.select(col("src").as("id"))
      .unionByName(r.treeEdges.select(col("dst").as("id"))).distinct()
    // a spanning forest is the maximum-diameter case (a path graph's tree IS
    // the path) — hash-min WCC would need O(n) rounds; star contraction is
    // O(log n) regardless of diameter
    val sub = PropertyGraph(nodes, kept)
    Wcc.runStar(sub).components
      .select(col("id"), col("componentId").as("clusterId"))
  }
}
