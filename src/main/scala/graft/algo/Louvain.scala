package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlCompat}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}

/** Louvain configuration (reference: algo/src/main/java/org/neo4j/gds/louvain/
  * LouvainBaseConfig.java:54-70 — maxLevels 10, maxIterations 10,
  * tolerance 1e-4). */
final case class LouvainConfig(
  maxLevels: Int = 10,
  maxInnerIterations: Int = 10,
  tolerance: Double = 1e-4,
  /** FullSync runs pure synchronous local-move rounds (deterministic AND
    * SQL-replayable — used by the oracle); Halves (default) moves an
    * alternating pseudo-random half per round, which breaks the two-cycle
    * oscillations synchronous local moves exhibit on symmetric structures. */
  schedule: Schedule = Schedule.Sync,
  weighted: Boolean = false,
  numPartitions: Option[Int] = None,
  /** Level graphs whose edge count is at or below this bound run their
    * remaining levels driver-locally (same semantics, zero per-round job
    * latency). Louvain's coarsening shrinks the level graph geometrically,
    * so at ANY input scale the tail levels drop below this bound — paying
    * multi-second distributed round latency on a 25-node community graph
    * is pure waste (measured: 10 of 20 rounds on the sf0.1 bench ran on
    * level graphs of <=25 nodes). 500k edges ~ 12 MB driver footprint.
    * Set to -1 to force every level distributed (parity tests do). */
  localTailThreshold: Long = 500000L)

final case class LouvainResult(
  communities: DataFrame,      // (id, communityId)
  modularity: Double,
  modularities: Seq[Double],   // per level
  ranLevels: Int)

/** Louvain multi-level modularity optimization, Spark-first.
  *
  * Reference: algo/src/main/java/org/neo4j/gds/louvain/Louvain.java:1-346
  * (level loop + graph coarsening) delegating local moves to
  * beta/modularity/ModularityOptimization.java. The reference parallelizes
  * local moves over K1-colored conflict-free batches of a shared-memory
  * graph; the Spark formulation instead runs deterministic synchronous
  * local-move rounds (every node evaluates its best neighboring community
  * from the PREVIOUS round's assignment) — one shuffle per round, map-side
  * combined, schedule-stable under any parallelism.
  *
  * Per round (level graph has symmetric edges, self-loops kept aside):
  *   gain(i -> C) = w(i,C) - k_i * Sigma_tot(C \ i) / 2m
  * argmax over neighboring communities + staying, ties to the smaller
  * community id; a node moves when the best strictly beats staying.
  * Coarsening is one groupBy(community pair) aggregation; assignments
  * compose through a join per level. Every step is a DataFrame plan — no
  * collected state, hub communities handled by partial aggregation.
  */
object Louvain {

  def run(graph: PropertyGraph, cfg: LouvainConfig = LouvainConfig()): LouvainResult = {
    val spark = graph.edges.sparkSession
    // Scoped shuffle width sized by DATA: each local-move round is ~6
    // narrow shuffle stages, so at small edge counts task-launch cost —
    // not data — dominates. ~50k edges per partition; big graphs keep the
    // session width. (AQE would do this coalescing, but it's off in loops.)
    val e0 = graph.edges.count()
    if (cfg.localTailThreshold >= 0L && e0 <= cfg.localTailThreshold)
      return runFullyLocal(graph, cfg)
    val parts = cfg.numPartitions.getOrElse(GraphOps.adaptiveParts(spark, e0, 50000L))
    // NOTE: unlike SuperstepLoop, AQE stays ON here — measured 2.8x FASTER
    // for the local-move rounds (413s vs 148s on the 20k-page probe): the
    // round's community-total and candidate joins rely on AQE's runtime
    // broadcast conversion, which the hint-only path can't replicate
    // because the aggregated sides have no size estimates.
    GraphOps.withShuffleWidth(spark, parts)(runWithParts(graph, cfg, parts))
  }

  private def runWithParts(graph: PropertyGraph, cfg: LouvainConfig,
                           parts: Int): LouvainResult = {
    val spark = graph.edges.sparkSession

    // Symmetric weighted view WITHOUT self-loops (each undirected edge twice)
    // plus per-node self-loop weight (from input loops; later from
    // coarsening). Parallel edges aggregate by SUM, like an undirected
    // weighted projection.
    val ew = (if (cfg.weighted) GraphOps.withWeight(graph.edges)
              else graph.edges.select(col("src"), col("dst")).withColumn("weight", lit(1.0)))
      .select(col("src"), col("dst"), col("weight"))
    var sym = ew.filter(col("src") =!= col("dst"))
      .unionByName(ew.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
      .repartition(parts, col("src")).persist()
    var self = ew.filter(col("src") === col("dst"))
      .groupBy(col("src").as("id")).agg(sum("weight").as("self"))
    var nodes = graph.vertices.select("id")

    // assign: original id -> current community (community of the level-graph
    // node the original node is contracted into)
    var assign = nodes.select(col("id"), col("id").as("communityId")).persist()
    assign.count()

    var modularities = Vector.empty[Double]
    var level        = 0
    var prevQ        = Double.NegativeInfinity
    var done         = false

    // 2m is INVARIANT across levels (coarsening folds intra weight into
    // self-loops, preserving the total) — computed once, reused by every
    // level's local moves and modularity job.
    var m2Known = Double.NaN

    while (!done && level < cfg.maxLevels) {
      // Local-tail handoff: coarsening shrinks the level graph geometrically,
      // so once it fits the bound the remaining levels run driver-locally
      // with identical semantics — one broadcast join composes the result.
      if (cfg.localTailThreshold >= 0L && sym.count() <= cfg.localTailThreshold) {
        val spark    = sym.sparkSession
        val nodeIds  = nodes.select("id").collect().map(_.getLong(0))
        val symArr   = sym.select("src", "dst", "weight").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        val selfMap  = self.select("id", "self").collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val (mapping, localMods, ranLevels) =
          runLocalLevels(nodeIds, symArr, selfMap, cfg, level, prevQ, m2Known)
        sym.unpersist(false)
        val mapDf = spark.createDataFrame(mapping.toSeq.map(p => Tuple2(p._1, p._2)))
          .toDF("communityId", "__finalComm")
        val out = assign.join(broadcast(mapDf), "communityId")
          .select(col("id"), col("__finalComm").as("communityId"))
        val mods = modularities ++ localMods
        return LouvainResult(out, mods.lastOption.getOrElse(0.0), mods, ranLevels)
      }
      level += 1
      val (state, anyMoved, m2) = localMoves(nodes, sym, self, cfg, parts, m2Known)
      m2Known = m2
      val q = if (m2 == 0.0) 0.0 else modularityGivenM2(state, sym, self, m2)
      modularities :+= q
      if (q - prevQ <= cfg.tolerance && level > 1) {
        level -= 1
        modularities = modularities.dropRight(1)
        done = true
      } else {
        prevQ = q
        // Compose assignments: original -> levelNode -> community
        val newAssign = assign
          .join(state.select(col("id").as("communityId"), col("comm")), "communityId")
          .select(col("id"), col("comm").as("communityId"))
          .repartition(parts, col("id")).persist()
        newAssign.count()
        assign.unpersist(false)
        assign = newAssign

        // Coarsen: communities become nodes; intra-community symmetric
        // weight folds into the new node's self weight (sym counts every
        // undirected edge twice, a self-loop's convention weight is half).
        val mapped = sym
          .join(state.select(col("id").as("src"), col("comm").as("csrc")), "src")
          .join(state.select(col("id").as("dst"), col("comm").as("cdst")), "dst")
          .select(col("csrc"), col("cdst"), col("weight"))
        val newSym = mapped.filter(col("csrc") =!= col("cdst"))
          .groupBy(col("csrc").as("src"), col("cdst").as("dst"))
          .agg(sum("weight").as("weight"))
          .repartition(parts, col("src")).persist()
        val intra = mapped.filter(col("csrc") === col("cdst"))
          .groupBy(col("csrc").as("id")).agg((sum("weight") / lit(2.0)).as("w"))
        val newSelf = self
          .join(state.select(col("id"), col("comm")), "id")
          .groupBy(col("comm").as("id")).agg(sum("self").as("w"))
          .unionByName(intra)
          .groupBy("id").agg(sum("w").as("self"))
        sym.unpersist(false)
        sym   = newSym
        self  = newSelf
        nodes = state.select(col("comm").as("id")).distinct()
        if (!anyMoved) done = true
      }
    }
    sym.unpersist(false)

    val out = assign.select(col("id"), col("communityId"))
    LouvainResult(out, modularities.lastOption.getOrElse(0.0), modularities, level)
  }

  /** Fully-local run for inputs already below the tail threshold: collect
    * the raw edge list, symmetrize locally, run every level with
    * [[runLocalLevels]]. The distributed path's arithmetic is replicated
    * exactly (integer-valued weights make every partial sum exact and
    * order-independent), so results match the distributed path — asserted
    * by LouvainSpec's local/distributed parity test. */
  private def runFullyLocal(graph: PropertyGraph, cfg: LouvainConfig): LouvainResult = {
    val spark = graph.edges.sparkSession
    val ew = (if (cfg.weighted) GraphOps.withWeight(graph.edges)
              else graph.edges.select(col("src"), col("dst")).withColumn("weight", lit(1.0)))
      .select(col("src"), col("dst"), col("weight").cast("double"))
    val raw     = ew.collect()
    val nodeIds = graph.vertices.select("id").collect().map(_.getLong(0))
    val symMap  = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    val selfMap = scala.collection.mutable.HashMap.empty[Long, Double]
    raw.foreach { r =>
      val s = r.getLong(0); val d = r.getLong(1); val w = r.getDouble(2)
      if (s == d) selfMap(s) = selfMap.getOrElse(s, 0.0) + w
      else {
        symMap((s, d)) = symMap.getOrElse((s, d), 0.0) + w
        symMap((d, s)) = symMap.getOrElse((d, s), 0.0) + w
      }
    }
    val symArr = symMap.iterator.map { case ((s, d), w) => (s, d, w) }.toArray
    val (mapping, mods, ranLevels) = runLocalLevels(
      nodeIds, symArr, selfMap, cfg, 0, Double.NegativeInfinity, Double.NaN)
    val out = spark.createDataFrame(nodeIds.toSeq.map(id => (id, mapping(id))))
      .toDF("id", "communityId")
    LouvainResult(out, mods.lastOption.getOrElse(0.0), mods, ranLevels)
  }

  /** Driver-local level loop — semantics identical to the distributed
    * runWithParts + localMoves (same gain formula, smaller-community-id
    * tie-break, Halves phase hash via Spark's own XXH64, per-round ΔQ stop
    * rule, coarsening and modularity arithmetic), on flat arrays.
    *
    * @param startLevel levels already completed by the distributed loop
    * @param prevQ0     modularity of the last completed level (-inf at start)
    * @param m2Known0   invariant 2m from the distributed loop (NaN at start)
    * @return (levelNode -> final community for every input node,
    *         modularities of the locally-run levels, total levels ran) */
  private[algo] def runLocalLevels(
      nodeIds0: Array[Long],
      sym0: Array[(Long, Long, Double)],
      self0: collection.Map[Long, Double],
      cfg: LouvainConfig,
      startLevel: Int,
      prevQ0: Double,
      m2Known0: Double): (Map[Long, Long], Vector[Double], Int) = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import scala.collection.mutable

    var ids  = nodeIds0
    var sym  = sym0
    var self: collection.Map[Long, Double] = self0
    val assign = mutable.HashMap.empty[Long, Long]
    nodeIds0.foreach(id => assign(id) = id)

    var modularities = Vector.empty[Double]
    var level   = startLevel
    var prevQ   = prevQ0
    var m2Known = m2Known0
    var done    = false

    while (!done && level < cfg.maxLevels) {
      level += 1
      val n   = ids.length
      val idx = mutable.HashMap.empty[Long, Int]
      var i = 0
      while (i < n) { idx(ids(i)) = i; i += 1 }
      // CSR adjacency over known-known edges; weight toward unknown dsts
      // still counts into k (mirrors the distributed deg computation, which
      // sums ALL outgoing sym weight before the state join drops strays).
      val known  = sym.filter(e => idx.contains(e._1))
      val degCnt = new Array[Int](n)
      known.foreach { e => degCnt(idx(e._1)) += 1 }
      val adjOff = new Array[Int](n + 1)
      i = 0
      while (i < n) { adjOff(i + 1) = adjOff(i) + degCnt(i); i += 1 }
      val adjDst = new Array[Int](known.length)
      val adjW   = new Array[Double](known.length)
      val kExtra = new Array[Double](n)
      val cursor = java.util.Arrays.copyOf(adjOff, n)
      var nKnown = 0
      known.foreach { e =>
        val s = idx(e._1)
        idx.get(e._2) match {
          case Some(d) =>
            val p = cursor(s); cursor(s) = p + 1
            adjDst(p) = d; adjW(p) = e._3; nKnown += 1
          case None => kExtra(s) += e._3
        }
      }
      // compact gaps left by unknown-dst edges (cursor < next offset)
      val selfArr = new Array[Double](n)
      i = 0
      while (i < n) { selfArr(i) = self.getOrElse(ids(i), 0.0); i += 1 }
      val k = new Array[Double](n)
      i = 0
      while (i < n) {
        var s = kExtra(i); var p = adjOff(i)
        while (p < cursor(i)) { s += adjW(p); p += 1 }
        k(i) = s + 2.0 * selfArr(i); i += 1
      }
      val m2 = if (!m2Known.isNaN) m2Known else k.sum
      m2Known = m2

      val comm = ids.clone()
      var anyMoved = false
      if (m2 != 0.0) {
        var iter   = 0
        var moved  = true
        var prevDq = Double.MaxValue
        while (moved && iter < cfg.maxInnerIterations) {
          iter += 1
          val tot = mutable.HashMap.empty[Long, Double]
          i = 0
          while (i < n) { tot(comm(i)) = tot.getOrElse(comm(i), 0.0) + k(i); i += 1 }
          val next    = new Array[Long](n)
          var wants   = 0L
          var gainSum = 0.0
          i = 0
          while (i < n) {
            val cur   = comm(i)
            val candW = mutable.HashMap.empty[Long, Double]
            var p = adjOff(i)
            while (p < cursor(i)) {
              val c = comm(adjDst(p))
              candW(c) = candW.getOrElse(c, 0.0) + adjW(p); p += 1
            }
            if (!candW.contains(cur)) candW(cur) = 0.0
            val ki = k(i)
            var bestCand = Long.MaxValue
            var bestGain = Double.NegativeInfinity
            var sg       = 0.0
            candW.foreach { case (cand, w) =>
              val gain = w - ki * (tot(cand) - (if (cand == cur) ki else 0.0)) / m2
              if (cand == cur) sg = gain
              if (gain > bestGain || (gain == bestGain && cand < bestCand)) {
                bestGain = gain; bestCand = cand
              }
            }
            val wantsMove = bestGain > sg && bestCand != cur
            val phase =
              if (cfg.schedule == Schedule.FullSync) true
              else (XXH64.hashLong(iter.toLong, XXH64.hashLong(ids(i), 42L)) & 1L) == 0L
            if (wantsMove) wants += 1
            if (phase && wantsMove) { next(i) = bestCand; gainSum += bestGain - sg }
            else next(i) = cur
            i += 1
          }
          System.arraycopy(next, 0, comm, 0, n)
          val roundDq = 2.0 * gainSum / m2
          moved = wants > 0L && (roundDq > cfg.tolerance || prevDq > cfg.tolerance)
          prevDq = roundDq
          anyMoved ||= roundDq > 0.0
        }
      }

      // modularity of this level (mirrors modularityGivenM2)
      val q = if (m2 == 0.0) 0.0 else {
        val tot = mutable.HashMap.empty[Long, Double]
        var intra = 0.0
        i = 0
        while (i < n) {
          tot(comm(i)) = tot.getOrElse(comm(i), 0.0) + k(i)
          var p = adjOff(i)
          while (p < cursor(i)) {
            if (comm(adjDst(p)) == comm(i)) intra += adjW(p); p += 1
          }
          intra += 2.0 * selfArr(i)
          i += 1
        }
        var totSq = 0.0
        tot.valuesIterator.foreach(t => totSq += t * t)
        intra / m2 - totSq / (m2 * m2)
      }
      modularities :+= q
      if (q - prevQ <= cfg.tolerance && level > 1) {
        level -= 1
        modularities = modularities.dropRight(1)
        done = true
      } else {
        prevQ = q
        val keys = assign.keysIterator.toArray
        keys.foreach { o => assign(o) = comm(idx(assign(o))) }
        // coarsen: intra weight (summed, then halved — exact for binary
        // floats) folds into the new node's self weight
        val newSym   = mutable.HashMap.empty[(Long, Long), Double]
        val intraAgg = mutable.HashMap.empty[Long, Double]
        val newSelf  = mutable.HashMap.empty[Long, Double]
        i = 0
        while (i < n) {
          val cs = comm(i)
          var p = adjOff(i)
          while (p < cursor(i)) {
            val cd = comm(adjDst(p))
            if (cs == cd) intraAgg(cs) = intraAgg.getOrElse(cs, 0.0) + adjW(p)
            else newSym((cs, cd)) = newSym.getOrElse((cs, cd), 0.0) + adjW(p)
            p += 1
          }
          if (selfArr(i) != 0.0) newSelf(cs) = newSelf.getOrElse(cs, 0.0) + selfArr(i)
          i += 1
        }
        intraAgg.foreach { case (c, w) => newSelf(c) = newSelf.getOrElse(c, 0.0) + w / 2.0 }
        ids  = comm.distinct
        sym  = newSym.iterator.map { case ((s, d), w) => (s, d, w) }.toArray
        self = newSelf
        if (!anyMoved) done = true
      }
    }
    (assign.toMap, modularities, level)
  }

  /** Inner local-move loop on one level graph.
    * Returns ((id, comm), whether any node ever moved, 2m). */
  private def localMoves(nodes: DataFrame, sym: DataFrame, self: DataFrame,
                         cfg: LouvainConfig, parts: Int,
                         m2Known: Double): (DataFrame, Boolean, Double) = {
    val spark = sym.sparkSession
    // k_i = symmetric degree + 2 * self weight; 2m = sum of k
    val deg = nodes
      .join(sym.groupBy(col("src").as("id")).agg(sum("weight").as("kd")), Seq("id"), "left")
      .join(self, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("kd"), lit(0.0)) + lit(2.0) * coalesce(col("self"), lit(0.0))).as("k"))
      .repartition(parts, col("id")).persist()
    val m2 =
      if (!m2Known.isNaN) m2Known
      else {
        val m2Row = deg.agg(sum("k")).first()
        if (m2Row.isNullAt(0)) 0.0 else m2Row.getDouble(0)
      }
    if (m2 == 0.0) {
      deg.unpersist(false)
      return (nodes.select(col("id"), col("id").as("comm")), false, 0.0)
    }

    var state = deg.select(col("id"), col("id").as("comm"), col("k")).persist()
    val n = state.count()
    // sym re-keyed by dst once per level: the per-round neighbor-community
    // gather joins on dst, so this removes an edge-sized exchange per round
    val symByDst = sym.repartition(parts, col("dst")).persist()
    var iter     = 0
    var moved    = true
    var anyMoved = false
    var prevDq   = Double.MaxValue
    while (moved && iter < cfg.maxInnerIterations) {
      iter += 1
      // Community totals from the previous round's assignment — broadcast
      // while the level graph is small (communities <= nodes); past ~1M
      // nodes the totals stay a shuffle join.
      val tot0 = state.groupBy("comm").agg(sum("k").as("tot"))
      val tot  = if (n <= 1000000L) broadcast(tot0) else tot0
      // Weight from each node to each neighboring community, re-keyed by id
      // BEFORE the aggregation (hash(id) clusters (id, cand) too) so the
      // downstream per-id join needs no further exchange.
      val wic = symByDst
        .join(state.select(col("id").as("dst"), col("comm").as("cand")), "dst")
        .repartition(parts, col("src"))
        .groupBy(col("src").as("id"), col("cand")).agg(sum("weight").as("w"))
      // Candidates = neighboring communities + staying (w = own-community
      // weight or 0). gain(i->C) = w - k_i * (tot_C - [C==cur]k_i) / 2m.
      // One aggregation yields both the best move and the stay gain (the
      // stay row is guaranteed by the explicit union), so nothing in the
      // candidate subtree is evaluated twice.
      val cands = state.select(col("id"), col("comm"), col("k"))
        .join(wic, Seq("id"), "left")
        .select(col("id"), col("comm"), col("k"),
          coalesce(col("cand"), col("comm")).as("cand"), coalesce(col("w"), lit(0.0)).as("w"))
        .unionByName(state.select(col("id"), col("comm"), col("k"),
          col("comm").as("cand"), lit(0.0).as("w"))) // explicit stay row
        .groupBy("id", "comm", "k", "cand").agg(max("w").as("w"))
        .join(tot.withColumnRenamed("comm", "cand"), "cand")
        .select(col("id"), col("comm"), col("k"), col("cand"),
          (col("w") - col("k") * (col("tot") -
            when(col("cand") === col("comm"), col("k")).otherwise(lit(0.0))) / lit(m2)).as("gain"))
      val best = cands
        .groupBy("id", "comm", "k")
        .agg(max(struct(col("gain"), (-col("cand")).as("neg"))).as("b"),
          max(when(col("cand") === col("comm"), col("gain"))).as("sg"))
        .select(col("id"), col("comm"), col("k"),
          (-col("b.neg")).as("bestCand"), col("b.gain").as("bestGain"), col("sg"))
      val phase =
        if (cfg.schedule == Schedule.FullSync) lit(true)
        else pmod(xxhash64(col("id"), lit(iter.toLong)), lit(2L)) === lit(0L)
      val wantsMove = col("bestGain") > col("sg") && col("bestCand") =!= col("comm")
      val doesMove  = phase && wantsMove
      val next = best
        .select(col("id"),
          when(doesMove, col("bestCand")).otherwise(col("comm")).as("comm"),
          col("k"),
          // estimated modularity gain REALIZED by this node's move this
          // round: ΔQ(i: A→B) = 2*(gain(B) - gain(A\i)) / 2m
          when(doesMove, col("bestGain") - col("sg")).otherwise(lit(0.0)).as("__gain"),
          wantsMove.as("__wants"))
        .repartition(parts, col("id"))
        .persist()
      val tRound = System.nanoTime()
      // ONE action per round: wants-count + realized-gain sum together
      val row = next.agg(
        count(when(col("__wants"), lit(1))),
        coalesce(sum("__gain"), lit(0.0))).first()
      val wants   = row.getLong(0)
      val roundDq = 2.0 * row.getDouble(1) / m2
      if (sys.env.contains("GRAFT_DEBUG_LOUVAIN"))
        println(f"LOUVAIN-ROUND iter=$iter wants=$wants dq=$roundDq%.6f n=$n " +
          f"secs=${(System.nanoTime() - tRound) / 1e9}%.2f")
      // Reference semantics (beta/modularity/ModularityOptimization.java:
      // stop when an iteration improves modularity by <= tolerance): the
      // summed realized per-move gains ARE this round's estimated ΔQ, so no
      // extra modularity job is needed. Under the Halves schedule one round
      // realizes only its active half, so the stop needs TWO consecutive
      // sub-tolerance rounds (complementary halves); wants==0 (nobody can
      // improve, either half) stops immediately. Tail rounds that shuffle
      // thousands of churning nodes for a vanishing ΔQ are cut here.
      moved = wants > 0 && (roundDq > cfg.tolerance || prevDq > cfg.tolerance)
      prevDq = roundDq
      anyMoved ||= roundDq > 0.0
      state.unpersist(false)
      state = GraftSqlCompat.truncatePlan(next.drop("__gain", "__wants"))
    }
    symByDst.unpersist(false)
    deg.unpersist(false)
    (state.select("id", "comm", "k"), anyMoved, m2)
  }

  /** Modularity with a known 2m, as ONE Spark job: the intra-community
    * weight, self-loop weight, and Σ tot² terms are tagged rows of a single
    * unioned aggregation (3 driver round-trips saved per level — at small
    * level-graph sizes job latency, not data, dominates). Expects `state`
    * to carry `k`. */
  private def modularityGivenM2(state: DataFrame, sym: DataFrame,
                                self: DataFrame, m2: Double): Double = {
    val intra = sym
      .join(state.select(col("id").as("src"), col("comm").as("c1")), "src")
      .join(state.select(col("id").as("dst"), col("comm").as("c2")), "dst")
      .filter(col("c1") === col("c2"))
      .select(col("weight").as("v"), lit("i").as("t"))
    val selfW = state.select("id")
      .join(self, Seq("id"))
      .select((col("self") * lit(2.0)).as("v"), lit("i").as("t"))
    val totSq = state.groupBy("comm").agg(sum("k").as("tot"))
      .select((col("tot") * col("tot")).as("v"), lit("s").as("t"))
    val row = intra.unionByName(selfW).unionByName(totSq)
      .agg(coalesce(sum(when(col("t") === "i", col("v"))), lit(0.0)),
        coalesce(sum(when(col("t") === "s", col("v"))), lit(0.0))).first()
    row.getDouble(0) / m2 - row.getDouble(1) / (m2 * m2)
  }

  /** Modularity of an assignment on a level graph:
    * Q = Sigma_C [ in_C / m2 - (tot_C / m2)^2 ] with in_C the symmetric
    * intra-community weight (self-loops count twice). Exposed for the
    * gds.beta.modularityOptimization stats surface. */
  def modularityOf(state: DataFrame, sym: DataFrame, self: DataFrame): Double = {
    val deg =
      if (state.columns.contains("k")) state.select("id", "comm", "k")
      else {
        state.select("id", "comm")
          .join(sym.groupBy(col("src").as("id")).agg(sum("weight").as("kd")), Seq("id"), "left")
          .join(self, Seq("id"), "left")
          .select(col("id"), col("comm"),
            (coalesce(col("kd"), lit(0.0)) + lit(2.0) * coalesce(col("self"), lit(0.0))).as("k"))
      }
    val m2Row = deg.agg(sum("k")).first()
    val m2    = if (m2Row.isNullAt(0)) 0.0 else m2Row.getDouble(0)
    if (m2 == 0.0) return 0.0
    val intra = sym
      .join(deg.select(col("id").as("src"), col("comm").as("c1")), "src")
      .join(deg.select(col("id").as("dst"), col("comm").as("c2")), "dst")
      .filter(col("c1") === col("c2"))
      .agg(coalesce(sum("weight"), lit(0.0))).first().getDouble(0)
    val selfW = deg.select("id", "comm")
      .join(self, Seq("id"))
      .agg(coalesce(sum("self"), lit(0.0))).first().getDouble(0)
    val totSq = deg.groupBy("comm").agg(sum("k").as("tot"))
      .agg(sum(col("tot") * col("tot"))).first().getDouble(0)
    (intra + 2.0 * selfW) / m2 - totSq / (m2 * m2)
  }

  /** Modularity of the singleton partition (every node its own community)
    * in two aggregation passes and zero joins: intra weight is the
    * self-loop weight only, so Q = 2*selfSum/m2 - Σ_v k_v² / m2². Matches
    * `modularity(g, identity)` exactly (asserted in LouvainSpec). */
  def singletonModularity(graph: PropertyGraph, weighted: Boolean = false): Double = {
    val ew = (if (weighted) GraphOps.withWeight(graph.edges)
              else graph.edges.select(col("src"), col("dst")).withColumn("weight", lit(1.0)))
    val nonLoop = ew.filter(col("src") =!= col("dst"))
    // k_v = symmetric non-loop degree + 2 * self-loop weight
    val contrib = nonLoop.select(col("src"), col("weight"))
      .unionByName(nonLoop.select(col("dst").as("src"), col("weight")))
      .unionByName(ew.filter(col("src") === col("dst"))
        .select(col("src"), (col("weight") * lit(2.0)).as("weight")))
    val k = contrib.groupBy("src").agg(sum("weight").as("k"))
    val row = k.agg(coalesce(sum("k"), lit(0.0)),
      coalesce(sum(col("k") * col("k")), lit(0.0))).first()
    val m2 = row.getDouble(0)
    if (m2 == 0.0) return 0.0
    val selfSum = ew.filter(col("src") === col("dst"))
      .agg(coalesce(sum("weight"), lit(0.0))).first().getDouble(0)
    2.0 * selfSum / m2 - row.getDouble(1) / (m2 * m2)
  }

  /** Modularity of a full-resolution assignment (id, communityId) on the
    * ORIGINAL graph — the gds.beta.modularityOptimization stats value. */
  def modularity(graph: PropertyGraph, assignment: DataFrame,
                 weighted: Boolean = false): Double = {
    val ew = (if (weighted) GraphOps.withWeight(graph.edges)
              else graph.edges.select(col("src"), col("dst")).withColumn("weight", lit(1.0)))
    val sym = ew.filter(col("src") =!= col("dst"))
      .unionByName(ew.filter(col("src") =!= col("dst"))
        .select(col("dst").as("src"), col("src").as("dst"), col("weight")))
      .groupBy("src", "dst").agg(sum("weight").as("weight"))
    val self = ew.filter(col("src") === col("dst"))
      .groupBy(col("src").as("id")).agg(sum("weight").as("self"))
    modularityOf(assignment.select(col("id"), col("communityId").as("comm")), sym, self)
  }
}
