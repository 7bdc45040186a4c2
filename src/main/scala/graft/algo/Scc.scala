package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlCompat}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** Strongly connected components.
  *
  * Reference: alpha/alpha-algo/src/main/java/org/neo4j/gds/impl/scc/
  * SccAlgorithm.java:1-219 — a sequential iterative Tarjan. A stack-based
  * DFS does not distribute, so the Spark formulation is the classic
  * coloring/peeling decomposition (Orzan-style, the standard Pregel SCC):
  *
  *  repeat until no nodes remain:
  *    1. FORWARD max-id propagation to fixpoint: color(v) = max id that
  *       reaches v within the remaining subgraph (frontier loop, one
  *       shuffle per round);
  *    2. every color class c with pivot c (color(c) == c) peels the SCC
  *       {v : color(v) = c and v reaches c within the color class} via a
  *       BACKWARD reachability loop;
  *    3. peeled nodes get sccId = min member id (canonical, matching the
  *       WCC min-id convention); the subgraph shrinks and repeats.
  *
  * Many SCCs peel per outer round (one per color class), so rounds stay
  * small on real graphs — but the TAIL does not: once the giant SCC and the
  * DAG shell are gone, what's left is a long chain of tiny components, and
  * every extra outer round pays two distributed fixpoints of pure superstep
  * latency on a handful of rows. Published multistep SCC decompositions
  * (trim + forward/backward + coloring) hand that tail to a sequential
  * solver, and so does this one: when the remaining subgraph drops below
  * `localSolveThreshold` nodes it is collected to the driver and finished
  * with one pass of iterative Tarjan (exact, and microseconds at that size).
  * At web scale the distributed rounds shrink the graph by orders of
  * magnitude per round, so the tail handoff caps outer rounds at O(1).
  *
  * Emits (id, sccId), sccId = min member id (matching the WCC convention). */
object Scc {

  def run(graph: PropertyGraph, maxOuterRounds: Int = 1000,
          maxInnerRounds: Int = 200,
          localSolveThreshold: Long = 50000L): DataFrame = {
    val spark = graph.edges.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions

    // `remVHandle`/`remEHandle` own the cache entries; `remV`/`remE` are the
    // plan-truncated views the next round builds on. Without the truncation
    // every outer round's logical plan embeds the previous round's entire
    // fixpoint lineage, and Catalyst re-analysis/optimization time doubles
    // per round even though all inputs are cached (measured: 25 s of pure
    // driver planning per rebuild count by outer round 2 on a 400-node graph).
    var remVHandle = graph.vertices.select("id").persist()
    // repartition BEFORE distinct: hash(src) clusters equal pairs, so the
    // dedup reuses that exchange. (Not persistInput: round 1 runs at the
    // remaining-node width, which only matches `parts` at scale, and the
    // non-adaptive cached plan measured 3% more shuffle over a whole run.)
    var remEHandle = graph.edges.select("src", "dst")
      .filter(col("src") =!= col("dst"))
      .repartition(parts, col("src")).distinct().persist()
    remVHandle.count(); remEHandle.count()
    var remV = GraftSqlCompat.truncatePlan(remVHandle)
    var remE = GraftSqlCompat.truncatePlan(remEHandle)

    var pieces = List.empty[DataFrame]
    var outer  = 0
    var remaining = remVHandle.count()

    val debug = sys.env.contains("GRAFT_DEBUG_SCC")
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r  = body
      if (debug) println(f"SCC-PHASE $name secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      r
    }
    // The peeling loop shrinks the subgraph by orders of magnitude per outer
    // round; a fixed shuffle width then pays (width × stages-per-fixpoint)
    // near-empty task launches per round on the small tail. Scale the width
    // to the remaining node count (one partition per ~25k nodes, capped at
    // the session default) — at web scale this is the session default for
    // every round that matters, and on the tail it collapses superstep
    // latency instead of fanning empty tasks. Scoped per round: SuperstepLoop
    // fixpoints plan their shuffles inside the round body.
    while (remaining > 0 && outer < maxOuterRounds) {
      outer += 1
      val p = GraphOps.adaptiveParts(spark, remaining)
      val tOuter = System.nanoTime()
      if (remaining <= localSolveThreshold) {
        // Tail handoff: the remainder fits on the driver — finish with one
        // sequential Tarjan pass instead of paying fixpoint superstep latency
        // per surviving component.
        import spark.implicits._
        val vs = remV.select("id").collect().map(_.getLong(0))
        val es = remE.select("src", "dst").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val assign = localTarjan(vs, es)
        val piece = spark.sparkContext
          .parallelize(assign, math.max(1, parts / 4))
          .toDF("id", "sccId").persist()
        piece.count()
        pieces ::= piece
        remaining = 0L
        if (debug)
          println(f"SCC-ROUND outer=$outer remaining=0 (local tarjan on " +
            f"${vs.length} nodes) secs=${(System.nanoTime() - tOuter) / 1e9}%.2f")
      } else GraphOps.withShuffleWidth(spark, p) {
      // 0. trim: nodes with no in- or no out-edge in the remaining subgraph
      // are singleton SCCs — peel them in bulk (the standard trim step; it
      // collapses DAG-like regions without paying a coloring fixpoint).
      val trimmed = remV
        .join(remE.select(col("src").as("id")).distinct(), Seq("id"), "left_anti")
        .unionByName(remV
          .join(remE.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti"))
        .distinct()
        .select(col("id"), col("id").as("sccId")).persist()
      if (phase("trim")(trimmed.count()) > 0) {
        pieces ::= trimmed
        // the coloring fixpoint below joins these from its first superstep:
        // persistInput keeps their partitioning visible to it
        val newV = SuperstepLoop.persistInput(
          remV.join(trimmed.select("id"), Seq("id"), "left_anti"), p, "id")
        val newE = SuperstepLoop.persistInput(remE
          .join(newV.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(newV.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst"), p, "src")
        remaining = phase("trim-rebuild") { val r = newV.count(); newE.count(); r }
        remVHandle.unpersist(false); remEHandle.unpersist(false)
        remVHandle = newV; remEHandle = newE
        remV = GraftSqlCompat.truncatePlan(newV)
        remE = GraftSqlCompat.truncatePlan(newE)
        if (remaining == 0) {
          // fall through to loop exit
        }
      } else trimmed.unpersist(false)
      if (remaining == 0) {
        // nothing left after trimming
      } else {
      // 1. forward max-color fixpoint
      val colors = phase("colors") {
        val colorInit = remV
          .select(col("id"), col("id").as("color"), lit(true).as(SuperstepLoop.ActiveCol))
          .repartition(p, col("id"))
        // Both fixpoints are stable under extra supersteps (a converged state
        // reproduces itself), so fuse 4 supersteps per driver action.
        val c = SuperstepLoop.run(colorInit,
            LoopConfig(maxInnerRounds, fusedSteps = 4)) { (state, _) =>
          SuperstepLoop.relax(state, remE, "color", col("color"), min = false)
        }.state.select("id", "color").persist()
        c.count()
        c
      }

      // 2. backward reach from each pivot within its color class
      val sameColor = remE
        .join(colors.select(col("id").as("src"), col("color").as("c1")), "src")
        .join(colors.select(col("id").as("dst"), col("color").as("c2")), "dst")
        .filter(col("c1") === col("c2"))
        .select(col("src"), col("dst"), col("c1").as("color"))
      val colored = SuperstepLoop.persistInput(sameColor, p, "dst")
      val reach = phase("reach") {
        val reachInit = colors
          .select(col("id"), col("color"), (col("id") === col("color")).as("reached"))
          .withColumn(SuperstepLoop.ActiveCol, col("reached"))
          .repartition(p, col("id"))
        val r = SuperstepLoop.run(reachInit,
            LoopConfig(maxInnerRounds, fusedSteps = 4)) { (state, _) =>
          // reached flows BACKWARD: v reached and edge u->v (same color) => u
          SuperstepLoop.relax(state, colored, "reached", lit(true), min = false,
            from = "dst", to = "src")
        }.state.persist()
        r.count()
        r
      }

      // 3. peel: reached nodes form SCCs keyed by color; canonical id = min member
      val members = reach.filter(col("reached"))
        .select(col("id"), col("color"))
      val canon = members.groupBy("color").agg(min("id").as("sccId"))
      val piece = members.join(canon, "color").select(col("id"), col("sccId")).persist()
      phase("peel")(piece.count())
      pieces ::= piece

      val newV = SuperstepLoop.persistInput(
        remV.join(piece.select("id"), Seq("id"), "left_anti"), p, "id")
      val newE = SuperstepLoop.persistInput(remE
        .join(newV.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(newV.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst"), p, "src")
      remaining = phase("rebuild") { val r = newV.count(); newE.count(); r }
      remVHandle.unpersist(false); remEHandle.unpersist(false)
      colors.unpersist(false); colored.unpersist(false); reach.unpersist(false)
      remVHandle = newV; remEHandle = newE
      remV = GraftSqlCompat.truncatePlan(newV)
      remE = GraftSqlCompat.truncatePlan(newE)
      }
      if (debug)
        println(f"SCC-ROUND outer=$outer remaining=$remaining " +
          f"secs=${(System.nanoTime() - tOuter) / 1e9}%.2f")
      }
    }
    remVHandle.unpersist(false); remEHandle.unpersist(false)
    val out = pieces match {
      case Nil => graph.vertices.select(col("id"), col("id").as("sccId")).limit(0)
      case l   => l.reduce(_ unionByName _)
    }
    val result = out.persist()
    result.count()
    pieces.foreach(_.unpersist(false))
    result
  }

  /** Sequential iterative Tarjan (explicit stacks, no recursion) for the
    * driver-side tail. Returns id -> sccId with sccId = min member id. */
  private[graft] def localTarjan(nodes: Array[Long],
                                 edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val n = nodes.length
    val idx = new java.util.HashMap[Long, Int](n * 2)
    var i = 0
    while (i < n) { idx.put(nodes(i), i); i += 1 }
    // CSR adjacency over the dense index (edges to peeled nodes are dropped)
    val deg = new Array[Int](n)
    edges.foreach { case (s, d) =>
      val si = idx.getOrDefault(s, -1)
      if (si >= 0 && idx.containsKey(d)) deg(si) += 1
    }
    val off = new Array[Int](n + 1)
    i = 0; while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    edges.foreach { case (s, d) =>
      val si = idx.getOrDefault(s, -1)
      val di = idx.getOrDefault(d, -1)
      if (si >= 0 && di >= 0) { adj(fill(si)) = di; fill(si) += 1 }
    }
    val index   = Array.fill(n)(-1)
    val low     = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp    = new Array[Int](n)
    val tarStack = new java.util.ArrayDeque[Integer]()
    val callV = new Array[Int](n)
    val callE = new Array[Int](n)
    var counter = 0
    var ncomp = 0
    var root = 0
    while (root < n) {
      if (index(root) == -1) {
        var sp = 0
        callV(0) = root; callE(0) = off(root)
        index(root) = counter; low(root) = counter; counter += 1
        tarStack.push(root); onStack(root) = true
        while (sp >= 0) {
          val v = callV(sp)
          if (callE(sp) < off(v + 1)) {
            val w = adj(callE(sp)); callE(sp) += 1
            if (index(w) == -1) {
              index(w) = counter; low(w) = counter; counter += 1
              tarStack.push(w); onStack(w) = true
              sp += 1; callV(sp) = w; callE(sp) = off(w)
            } else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            if (low(v) == index(v)) {
              var w = -1
              while (w != v) {
                w = tarStack.pop(); onStack(w) = false; comp(w) = ncomp
              }
              ncomp += 1
            }
            sp -= 1
            if (sp >= 0 && low(v) < low(callV(sp))) low(callV(sp)) = low(v)
          }
        }
      }
      root += 1
    }
    val minId = Array.fill(ncomp)(Long.MaxValue)
    i = 0
    while (i < n) {
      val c = comp(i)
      if (nodes(i) < minId(c)) minId(c) = nodes(i)
      i += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0; while (i < n) { out(i) = (nodes(i), minId(comp(i))); i += 1 }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }
}
