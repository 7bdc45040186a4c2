package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlCompat}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Orientation, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** Shortest paths WITH path tracking — the `gds.shortestPath.dijkstra.*`
  * surface (reference: algo/src/main/java/org/neo4j/gds/paths/dijkstra/
  * Dijkstra.java:1-342, single-source and source-target with per-target
  * node sequences and costs).
  *
  * The reference runs a sequential binary-heap Dijkstra; the Spark-native
  * formulation is frontier relaxation (the same loop as [[Paths.sssp]])
  * extended with canonical predecessor tracking:
  *
  *  1. relax distances to fixpoint (one shuffle per round, frontier
  *     shrinks);
  *  2. ONE full pass computes the canonical predecessor
  *     pred(v) = min{ u : dist(u) + w(u,v) = dist(v) } — deterministic
  *     regardless of which round each distance settled in;
  *  3. path reconstruction walks the predecessor forest iteratively
  *     (rounds = max hop count), building the node sequence per vertex.
  *
  * Non-negative weights assumed (like the reference, which validates
  * this at load). */
object ShortestPaths {

  /** Single-source Dijkstra: returns (id, dist, pred, path) for every
    * reachable vertex; `path` is the full node sequence source..id. */
  def dijkstraSingleSource(graph: PropertyGraph, source: Long,
                           orientation: Orientation = Orientation.Natural,
                           maxRounds: Int = 200,
                           trackPaths: Boolean = true,
                           localTailThreshold: Long = 500000L): DataFrame = {
    val spark = graph.edges.sparkSession
    val edgeCount = graph.edges.count()
    if (localTailThreshold >= 0L && edgeCount <= localTailThreshold)
      return dijkstraLocal(graph, source, orientation, maxRounds, trackPaths)
    val parts = GraphOps.adaptiveParts(spark, edgeCount)
    GraphOps.withShuffleWidth(spark, parts) {
    val edges = graph.edgesBySrc(orientation, parts)
    // Paths.sssp's distance phase; its rows are a read of the loop's cached
    // final state, so the three references below cost no extra action.
    val dists = Paths.distances(graph.vertexIds(parts), edges, source, maxRounds)

    val withPred = dists.join(canonicalPreds(dists, edges), Seq("id"), "left")
      .select(col("id"), col("dist"),
        when(col("id") === source, lit(null).cast("long")).otherwise(col("pred")).as("pred"))
      .persist()
    withPred.count()
    if (!trackPaths) withPred
    else {
      val walk = walkPreds(withPred.select(col("id"), col("pred")),
        withPred.select(col("id"), col("id").as("cur"), array(col("id")).as("path")),
        source, maxRounds, parts)
      withPred.join(walk.select("id", "path"), "id")
        .select("id", "dist", "pred", "path")
    }
    }
  }

  /** Canonical predecessors over final distances `dists` (id, dist):
    * pred(v) = min{ u : dist(u) + w(u,v) = dist(v) }, as (id, pred). */
  private def canonicalPreds(dists: DataFrame, edges: DataFrame): DataFrame =
    dists.select(col("id").as("src"), col("dist").as("du"))
      .join(edges, "src")
      .join(dists.select(col("id").as("dst"), col("dist").as("dv")), "dst")
      .filter(col("du") + col("weight") === col("dv"))
      .groupBy(col("dst").as("id")).agg(min(col("src")).as("pred"))

  /** Iterative predecessor-chain reconstruction: walk every start row's
    * chain through `predTable` (id, pred), prepending ancestors until each
    * walk reaches the source. Rounds = max hop count of the canonical pred
    * chains (NOT bounded by the relaxation round count — an equal-cost
    * min-pred chain can have more hops than the first-discovered path), so
    * convergence stays observed; but the walk batches `fuse` hops per
    * driver action as one lazy plan-truncated chain: walks already at the
    * source are fixpoint rows, so over-running inside a batch is a no-op.
    * `start` rows carry (id, cur, path); returns (id, path). Shared by the
    * all-targets walk ([[dijkstraSingleSource]]) and the single-target
    * chain ([[astar]]) — one driver action per `fuse` hops either way. */
  private def walkPreds(predTable: DataFrame, start: DataFrame, source: Long,
                        maxRounds: Int, parts: Int, fuse: Int = 8): DataFrame = {
    // (Not persistInput with a shuffle_hash hint: that drops the hops'
    // sorts, but the unsorted walk rows measured 1.3% more shuffle bytes.)
    val forest = predTable.select(col("id").as("cur0"), col("pred").as("prev"))
      .repartition(parts, col("cur0")).persist()
    def step(w: DataFrame): DataFrame = w
      .join(forest, w("cur") === forest("cur0"), "left")
      .select(col("id"),
        when(col("cur") === source || col("prev").isNull, col("cur"))
          .otherwise(col("prev")).as("cur"),
        when(col("cur") === source || col("prev").isNull, col("path"))
          .otherwise(concat(array(col("prev")), col("path"))).as("path"))
    // ONE action per batch: the aggregate fully populates the cache and
    // returns the unfinished-walk count in the same job.
    def materialize(df: DataFrame): (DataFrame, Long) = {
      val cached = df.persist()
      val left = cached.agg(count(when(col("cur") =!= source, lit(1))))
        .first().getLong(0)
      (cached, left)
    }
    // Finished walks (cur == source) are fixpoint rows: correct to carry
    // through further hops, but each hop would shuffle them through its
    // forest join — and every finished walk hashes to the SAME partition
    // (cur == source), so the source's bucket accumulates all completed
    // walks. Walks finish at wildly varying depths (most web-graph paths
    // are far shorter than the longest), so each batch routes only LIVE
    // walks through the 8-hop join chain and unions the finished rows back
    // in after it — they ride along into the batch's one materialize (same
    // single action, same cache) without touching any join.
    var (cached, remaining) = materialize(start)
    var walk = GraftSqlCompat.truncatePlan(cached)
    var rounds = 0
    while (remaining > 0 && rounds < maxRounds) {
      val done = walk.filter(col("cur") === source)
      var chained = GraftSqlCompat.truncatePlan(walk.filter(col("cur") =!= source))
      var b = 0
      while (b < fuse && rounds < maxRounds) {
        b += 1
        rounds += 1
        chained = GraftSqlCompat.truncatePlan(step(chained))
      }
      val (next, left) = materialize(chained.unionByName(done))
      remaining = left
      cached.unpersist(false)
      cached = next
      walk = GraftSqlCompat.truncatePlan(next)
    }
    forest.unpersist(false)
    walk
  }

  /** Shared driver-local machinery: collect the weighted oriented edge
    * table + vertex set into arrays. Returns (ids, edge arrays, idx map). */
  private def collectWeighted(graph: PropertyGraph, orientation: Orientation)
      : (Array[Long], Array[(Int, Int, Double)], scala.collection.mutable.HashMap[Long, Int]) = {
    import scala.collection.mutable
    val ids = graph.vertices.select("id").collect().map(_.getLong(0))
    val idx = mutable.HashMap.empty[Long, Int]
    var i = 0
    while (i < ids.length) { idx(ids(i)) = i; i += 1 }
    val es = GraphOps.withWeight(graph.orientedEdges(orientation))
      .select("src", "dst", "weight").collect()
      .flatMap { r =>
        (idx.get(r.getLong(0)), idx.get(r.getLong(1))) match {
          case (Some(a), Some(b)) => Some((a, b, r.getDouble(2)))
          case _                  => None
        }
      }
    (ids, es, idx)
  }

  /** Synchronous frontier relaxation on arrays — the EXACT rounds the
    * distributed loop runs (candidate = min over active in-neighbors of
    * dist+w with left-to-right FP accumulation; active = strictly
    * improved), plus an optional A*-style bound prune using `h`. Returns
    * final dists. */
  private def relaxLocal(n: Int, es: Array[(Int, Int, Double)], srcIdx: Int,
                         maxRounds: Int, h: Array[Double], targetIdx: Int): Array[Double] = {
    val inf  = Double.PositiveInfinity
    val dist = Array.fill(n)(inf)
    dist(srcIdx) = 0.0
    val active = new Array[Boolean](n)
    active(srcIdx) = true
    var any    = true
    var rounds = 0
    while (any && rounds < maxRounds) {
      rounds += 1
      val bound = if (targetIdx >= 0) dist(targetIdx) else inf
      val cand  = Array.fill(n)(inf)
      es.foreach { case (u, v, w) =>
        if (active(u) && dist(u) != inf) {
          val c = dist(u) + w
          if (c < cand(v)) cand(v) = c
        }
      }
      any = false
      var v = 0
      while (v < n) {
        val improved = cand(v) < dist(v)
        val nd       = math.min(dist(v), cand(v))
        // A* prune: a node whose optimistic total exceeds the target's
        // current bound stops relaxing (identical to the distributed step)
        active(v) = improved && (h == null || nd + h(v) <= bound)
        if (active(v)) any = true
        dist(v) = nd
        v += 1
      }
    }
    dist
  }

  /** Canonical predecessors over final dists: min in-neighbor achieving
    * du + w == dv exactly (parallel edges included, like the distributed
    * preds join). -1 = none/source. */
  private def predsLocal(n: Int, es: Array[(Int, Int, Double)], ids: Array[Long],
                         dist: Array[Double], srcIdx: Int): Array[Int] = {
    val inf  = Double.PositiveInfinity
    val pred = Array.fill(n)(-1)
    es.foreach { case (u, v, w) =>
      if (dist(u) != inf && dist(v) != inf && dist(u) + w == dist(v) &&
          (pred(v) < 0 || ids(u) < ids(pred(v)))) pred(v) = u
    }
    pred(srcIdx) = -1
    pred
  }

  /** Walk a canonical pred chain from `v` back to the source, capped at
    * maxRounds hops (same truncation the distributed batched walk has). */
  private def pathLocal(v: Int, srcIdx: Int, pred: Array[Int], ids: Array[Long],
                        maxRounds: Int): Seq[Long] = {
    val buf = scala.collection.mutable.ArrayBuffer[Long](ids(v))
    var cur  = v
    var hops = 0
    while (cur != srcIdx && pred(cur) >= 0 && hops < maxRounds) {
      hops += 1
      cur = pred(cur)
      buf.prepend(ids(cur))
    }
    buf.toSeq
  }

  /** Driver-local tail for [[dijkstraSingleSource]] — identical rounds,
    * canonical preds, and walk on arrays (parity in ShortestPathsSpec). */
  private def dijkstraLocal(graph: PropertyGraph, source: Long,
                            orientation: Orientation, maxRounds: Int,
                            trackPaths: Boolean): DataFrame = {
    val spark = graph.edges.sparkSession
    val (ids, es, idx) = collectWeighted(graph, orientation)
    val srcIdx = idx.getOrElse(source, -1)
    val rows: Seq[(Long, Double, Option[Long], Seq[Long])] =
      if (srcIdx < 0) Seq.empty
      else {
        val dist = relaxLocal(ids.length, es, srcIdx, maxRounds, null, -1)
        val pred = predsLocal(ids.length, es, ids, dist, srcIdx)
        ids.indices.collect {
          case v if dist(v) != Double.PositiveInfinity =>
            (ids(v), dist(v),
              if (v == srcIdx || pred(v) < 0) None else Some(ids(pred(v))),
              if (trackPaths) pathLocal(v, srcIdx, pred, ids, maxRounds)
              else Seq.empty[Long])
        }
      }
    val df = spark.createDataFrame(rows).toDF("id", "dist", "pred", "path")
    if (trackPaths) df else df.select("id", "dist", "pred")
  }

  /** Source-target Dijkstra: one row (source, target, totalCost, nodeIds)
    * or empty when unreachable — `gds.shortestPath.dijkstra.stream` shape. */
  def dijkstra(graph: PropertyGraph, source: Long, target: Long,
               orientation: Orientation = Orientation.Natural,
               maxRounds: Int = 200): DataFrame = {
    dijkstraSingleSource(graph, source, orientation, maxRounds)
      .filter(col("id") === target)
      .select(lit(source).as("sourceNode"), col("id").as("targetNode"),
        col("dist").as("totalCost"), col("path").as("nodeIds"))
  }

  /** Haversine great-circle distance (same formula as the reference's
    * A* heuristic, algo/src/main/java/org/neo4j/gds/paths/astar/
    * AStar.java:79-97): radius defaults to Earth's in km — weights must be
    * in the same unit for the heuristic to stay admissible. */
  def haversine(lat1: org.apache.spark.sql.Column, lon1: org.apache.spark.sql.Column,
                lat2: Double, lon2: Double, radius: Double = 6371.0): org.apache.spark.sql.Column = {
    val dLat = radians(lat1 - lit(lat2)) / 2.0
    val dLon = radians(lon1 - lit(lon2)) / 2.0
    val a = pow(sin(dLat), 2.0) +
      cos(radians(lat1)) * cos(radians(lit(lat2))) * pow(sin(dLon), 2.0)
    lit(2.0 * radius) * asin(sqrt(a))
  }

  /** A* source-target shortest path (reference: algo/src/main/java/org/
    * neo4j/gds/paths/astar/AStar.java:1-218 — Dijkstra + haversine
    * heuristic over latitude/longitude node properties).
    *
    * The sequential reference uses the heuristic to ORDER its priority
    * queue; the frontier-relaxation formulation has no queue, so the
    * heuristic instead PRUNES: once the target is reached with bound B,
    * any node with dist(u) + h(u) > B can never improve the target (h is
    * an admissible lower bound on the remaining cost), so it stops
    * relaxing — the same work-skipping A* buys, expressed as a broadcast
    * scalar bound folded into each superstep. Result is identical to
    * Dijkstra's (both exact); only the explored frontier shrinks. */
  def astar(graph: PropertyGraph, source: Long, target: Long,
            latCol: String = "latitude", lonCol: String = "longitude",
            radius: Double = 6371.0,
            orientation: Orientation = Orientation.Natural,
            maxRounds: Int = 200,
            localTailThreshold: Long = 500000L): DataFrame = {
    val spark = graph.edges.sparkSession
    val tRow = graph.vertices.filter(col("id") === target)
      .select(col(latCol).cast("double"), col(lonCol).cast("double")).collect()
    require(tRow.nonEmpty, s"target $target not in vertices")
    val (tLat, tLon) = (tRow(0).getDouble(0), tRow(0).getDouble(1))

    val edgeCount = graph.edges.count()
    if (localTailThreshold >= 0L && edgeCount <= localTailThreshold)
      return astarLocal(graph, source, target, latCol, lonCol, tLat, tLon,
        radius, orientation, maxRounds)
    val parts = GraphOps.adaptiveParts(spark, edgeCount)
    GraphOps.withShuffleWidth(spark, parts) {
    val edges = graph.edgesBySrc(orientation, parts)
    val inf = Double.PositiveInfinity
    val init = Paths.sourceState(graph.vertices.repartition(parts, col("id")), source, 0.0, inf,
      haversine(col(latCol).cast("double"), col(lonCol).cast("double"),
        tLat, tLon, radius).as("h"))

    // Fixpoint-stable min-relaxation: fuse supersteps (one multi-stage job
    // per batch) to drop the per-round driver sync; maxRounds is still an
    // exact cap inside the fused loop. The target's distance before the
    // superstep bounds which improved vertices stay active.
    val relaxed = SuperstepLoop.run(init,
        LoopConfig(maxRounds, fusedSteps = 4)) { (state, _) =>
      val bound = state.filter(col("id") === target)
        .agg(min(col("dist")).as("bound"))
      SuperstepLoop.relax(state, edges, "dist", col("dist") + col("weight"), min = true)
        .crossJoin(broadcast(bound))
        .select(col("id"), col("dist"), col("h"),
          (col(SuperstepLoop.ActiveCol) &&
            col("dist") + col("h") <= coalesce(col("bound"), lit(inf)))
            .as(SuperstepLoop.ActiveCol))
    }
    val settled = relaxed.state.filter(col("dist") =!= inf).select("id", "dist").persist()
    settled.count()
    // predecessor forest over settled nodes, then walk the target's chain
    val preds = canonicalPreds(settled, edges).persist()
    preds.count()
    val costOpt = settled.filter(col("id") === target).collect()
      .headOption.map(_.getDouble(1))
    // walk the single target chain with the shared batched walk (8 hops per
    // driver action) — O(path length) driver memory, never the whole forest
    val chain: Seq[Long] =
      if (costOpt.isEmpty) Seq.empty
      else {
        val start = settled.filter(col("id") === target)
          .select(col("id"), col("id").as("cur"), array(col("id")).as("path"))
        walkPreds(
          preds.select(col("id"),
            when(col("id") === source, lit(null).cast("long"))
              .otherwise(col("pred")).as("pred")),
          start, source, maxRounds, parts)
          .select("path")
          .collect().headOption.map(_.getSeq[Long](0)).getOrElse(Seq.empty)
      }
    settled.unpersist(false)
    preds.unpersist(false)
    import spark.implicits._
    costOpt match {
      case Some(c) if chain.headOption.contains(source) =>
        Seq((source, target, c, chain))
          .toDF("sourceNode", "targetNode", "totalCost", "nodeIds")
      case _ =>
        Seq.empty[(Long, Long, Double, Seq[Long])]
          .toDF("sourceNode", "targetNode", "totalCost", "nodeIds")
    }
    }
  }

  /** Driver-local tail for [[astar]]: the same bound-pruned synchronous
    * relaxation (haversine heuristic computed with the identical formula),
    * canonical preds among the settled set, target chain walk. */
  private def astarLocal(graph: PropertyGraph, source: Long, target: Long,
                         latCol: String, lonCol: String, tLat: Double, tLon: Double,
                         radius: Double, orientation: Orientation,
                         maxRounds: Int): DataFrame = {
    val spark = graph.edges.sparkSession
    import spark.implicits._
    val (ids, es, idx) = collectWeighted(graph, orientation)
    // haversine per node, exactly the Spark column formula's operation order
    val latLon = graph.vertices
      .select(col("id"), col(latCol).cast("double"), col(lonCol).cast("double"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val h = ids.map { id =>
      val (la, lo) = latLon(id)
      val dLat = Math.toRadians(la - tLat) / 2.0
      val dLon = Math.toRadians(lo - tLon) / 2.0
      val a = Math.pow(Math.sin(dLat), 2.0) +
        Math.cos(Math.toRadians(la)) * Math.cos(Math.toRadians(tLat)) *
          Math.pow(Math.sin(dLon), 2.0)
      2.0 * radius * Math.asin(Math.sqrt(a))
    }
    val srcIdx = idx.getOrElse(source, -1)
    val tgtIdx = idx.getOrElse(target, -1)
    val rows: Seq[(Long, Long, Double, Seq[Long])] =
      if (srcIdx < 0 || tgtIdx < 0) Seq.empty
      else {
        val dist = relaxLocal(ids.length, es, srcIdx, maxRounds, h, tgtIdx)
        if (dist(tgtIdx) == Double.PositiveInfinity) Seq.empty
        else {
          val pred = predsLocal(ids.length, es, ids, dist, srcIdx)
          val path = pathLocal(tgtIdx, srcIdx, pred, ids, maxRounds)
          if (path.headOption.contains(source))
            Seq((source, target, dist(tgtIdx), path))
          else Seq.empty
        }
      }
    rows.toDF("sourceNode", "targetNode", "totalCost", "nodeIds")
  }

  /** Yen's K shortest loopless paths between source and target
    * (reference: algo/src/main/java/org/neo4j/gds/paths/yens/Yens.java:1-492).
    * Classic spur-node formulation over repeated filtered Dijkstra runs.
    *
    * Yen's is a POINT query: k·|path| inherently sequential Dijkstras of
    * control flow, not data — so like the Wcc/Scc/SpanningTree tails, the
    * spur loop hands off to a driver-local binary-heap solver once the
    * (oriented, weighted) edge table fits (`localSolveThreshold`); larger
    * graphs run each spur search as a distributed relaxation. Both paths
    * produce identical results: canonical min-pred shortest paths,
    * candidates ordered by (cost, path). Returns (index, totalCost,
    * nodeIds). */
  def yens(graph: PropertyGraph, source: Long, target: Long, k: Int,
           orientation: Orientation = Orientation.Natural,
           maxRounds: Int = 50,
           localSolveThreshold: Long = 200000L): DataFrame = {
    val spark = graph.edges.sparkSession
    import spark.implicits._
    val base = GraphOps.withWeight(graph.orientedEdges(orientation))
      .select("src", "dst", "weight").persist()
    val accepted =
      if (base.count() <= localSolveThreshold) {
        val es = base.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        yensLocal(es, source, target, k)
      } else yensDistributed(graph, base, source, target, k, maxRounds)
    base.unpersist(false)
    accepted.zipWithIndex
      .map { case ((c, p), i) => (i, c, p) }
      .toDF("index", "totalCost", "nodeIds")
  }

  /** Driver-local Yen's over a collected edge list — binary-heap Dijkstra
    * with the distributed variant's exact conventions (pair-level min
    * weights, canonical pred = min in-neighbor achieving the final
    * distance, (cost, path)-ordered candidates). */
  private def yensLocal(edges: Array[(Long, Long, Double)], source: Long,
                        target: Long, k: Int): Seq[(Double, Seq[Long])] = {
    val minW = edges.groupBy(e => (e._1, e._2))
      .map { case (key, es) => key -> es.map(_._3).min }
    val adj = minW.toSeq.map { case ((a, b), w) => (a, b, w) }
      .groupBy(_._1).map { case (a, es) => a -> es.map(e => (e._2, e._3)) }
    val radj = minW.toSeq.map { case ((a, b), w) => (b, a, w) }
      .groupBy(_._1).map { case (b, es) => b -> es.map(e => (e._2, e._3)) }

    def dijkstraL(banned: Set[(Long, Long)], removed: Set[Long],
                  from: Long): Option[(Double, Seq[Long])] = {
      if (removed(target)) return None
      val dist = scala.collection.mutable.HashMap.empty[Long, Double]
      val settled = scala.collection.mutable.HashSet.empty[Long]
      val pq = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
        Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long).reverse)
      dist(from) = 0.0
      pq.enqueue((0.0, from))
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (!settled(u) && d == dist(u)) {
          settled += u
          for ((v, w) <- adj.getOrElse(u, Nil)
               if !removed(v) && !banned((u, v))) {
            val nd = d + w
            if (nd < dist.getOrElse(v, Double.PositiveInfinity)) {
              dist(v) = nd
              pq.enqueue((nd, v))
            }
          }
        }
      }
      dist.get(target).map { c =>
        val path = scala.collection.mutable.ArrayBuffer[Long](target)
        var cur = target
        while (cur != from) {
          val pred = radj(cur).iterator.collect {
            case (u, w) if !removed(u) && !banned((u, cur)) &&
              dist.contains(u) && dist(u) + w == dist(cur) => u
          }.min
          path.prepend(pred)
          cur = pred
        }
        (c, path.toSeq)
      }
    }

    val accepted = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Long])]
    val candidates = scala.collection.mutable.SortedSet.empty[(Double, Seq[Long])](
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Implicits.seqOrdering[Seq, Long]))
    dijkstraL(Set.empty, Set.empty, source).foreach(accepted += _)
    var exhausted = accepted.isEmpty
    while (!exhausted && accepted.size < k) {
      val (_, prevPath) = accepted.last
      for (i <- 0 until prevPath.length - 1) {
        val spur     = prevPath(i)
        val rootPath = prevPath.take(i + 1)
        val banned = accepted.collect {
          case (_, p) if p.length > i + 1 && p.take(i + 1) == rootPath =>
            (p(i), p(i + 1))
        }.toSet
        val rootSet = rootPath.dropRight(1).toSet
        dijkstraL(banned, rootSet, spur).foreach { case (spurCost, spurPath) =>
          val rootCost = rootPath.indices.dropRight(1)
            .map(j => minW((rootPath(j), rootPath(j + 1)))).sum
          val full = (rootCost + spurCost, rootPath.dropRight(1) ++ spurPath)
          if (!accepted.exists(_._2 == full._2)) candidates += full
        }
      }
      if (candidates.isEmpty) exhausted = true
      else {
        val best = candidates.head
        candidates -= best
        accepted += best
      }
    }
    accepted.toSeq
  }

  /** Distributed spur loop: each spur search is a full relaxation over the
    * filtered edge table — the scale path when the edge table exceeds the
    * local threshold. */
  private def yensDistributed(graph: PropertyGraph, base: DataFrame,
                              source: Long, target: Long, k: Int,
                              maxRounds: Int): Seq[(Double, Seq[Long])] = {
    val baseGraph = PropertyGraph(graph.vertices, base)

    def pathOf(g: PropertyGraph): Option[(Double, Seq[Long])] =
      dijkstra(g, source, target, Orientation.Natural, maxRounds)
        .collect().headOption.map(r => (r.getDouble(2), r.getSeq[Long](3)))

    // Min edge weights along accepted paths, fetched ONE aggregation job per
    // newly-accepted path (consecutive pairs only — O(|path|) driver memory)
    // instead of one driver job per root-prefix edge per spur (round 2 ran
    // O(k·|path|²) synchronized point queries here).
    val minW = scala.collection.mutable.HashMap.empty[(Long, Long), Double]
    def cachePathWeights(path: Seq[Long]): Unit = {
      val missing = path.zip(path.tail).distinct.filterNot(minW.contains)
      if (missing.nonEmpty) {
        val pred = missing.map { case (a, b) =>
          col("src") === a && col("dst") === b }.reduce(_ || _)
        base.filter(pred).groupBy("src", "dst").agg(min("weight").as("w"))
          .collect().foreach { r =>
            minW((r.getLong(0), r.getLong(1))) = r.getDouble(2)
          }
      }
    }

    val accepted = scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[Long])]
    val candidates = scala.collection.mutable.SortedSet.empty[(Double, Seq[Long])](
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Implicits.seqOrdering[Seq, Long]))

    pathOf(baseGraph).foreach { p => cachePathWeights(p._2); accepted += p }
    var exhausted = accepted.isEmpty
    while (!exhausted && accepted.size < k) {
      val (_, prevPath) = accepted.last
      // spur from every prefix of the last accepted path
      for (i <- 0 until prevPath.length - 1) {
        val spur     = prevPath(i)
        val rootPath = prevPath.take(i + 1)
        // edges leaving the spur node used by any accepted path with the
        // same root prefix are banned; root nodes (except spur) removed
        val banned = accepted.collect {
          case (_, p) if p.length > i + 1 && p.take(i + 1) == rootPath =>
            (p(i), p(i + 1))
        }.toSet
        val rootSet = rootPath.dropRight(1).toSet
        val noRoot =
          if (rootSet.isEmpty) lit(true)
          else !col("src").isInCollection(rootSet.toSeq) &&
               !col("dst").isInCollection(rootSet.toSeq)
        val notBanned =
          if (banned.isEmpty) lit(true)
          else banned.toSeq.map { case (a, b) =>
            !(col("src") === a && col("dst") === b) }.reduce(_ && _)
        val filteredEdges = base.filter(noRoot && notBanned)
        val spurGraph = PropertyGraph(graph.vertices, filteredEdges)
        dijkstra(spurGraph, spur, target, Orientation.Natural, maxRounds)
          .collect().headOption.foreach { r =>
            val spurCost = r.getDouble(2)
            val spurPath = r.getSeq[Long](3)
            // rootPath is a prefix of an accepted path, so every consecutive
            // pair's min weight is already in the driver-side cache.
            val rootCost = rootPath.indices.dropRight(1)
              .map(j => minW((rootPath(j), rootPath(j + 1)))).sum
            val full = (rootCost + spurCost, rootPath.dropRight(1) ++ spurPath)
            if (!accepted.exists(_._2 == full._2)) candidates += full
          }
      }
      if (candidates.isEmpty) exhausted = true
      else {
        val best = candidates.head
        candidates -= best
        cachePathWeights(best._2)
        accepted += best
      }
    }
    accepted.toSeq
  }

  /** Weighted all-shortest-paths distance stream — the weighted variant of
    * `gds.alpha.allShortestPaths.stream` (reference: alpha/alpha-algo/src/
    * main/java/org/neo4j/gds/impl/msbfs/WeightedAllShortestPaths.java, one
    * Dijkstra per source over a thread pool).
    *
    * Spark formulation: every source relaxes in the SAME superstep — state
    * keyed (s, id), one message shuffle per round regardless of source
    * count (the weighted analogue of MsBfs.distSigma; rounds bounded by
    * the longest shortest path's hop count, not |V|·|sources|). `sources`
    * defaults to all vertices — pass a subset to bound the
    * O(|sources| x reachable) state at scale. Driver-local per-source
    * relaxation below the local-tail threshold (same rounds, bit-identical
    * FP accumulation). */
  def allShortestPathsWeighted(graph: PropertyGraph,
                               sources: Option[DataFrame] = None,
                               orientation: Orientation = Orientation.Natural,
                               maxRounds: Int = 200,
                               localTailThreshold: Long = 500000L): DataFrame = {
    val spark = graph.edges.sparkSession
    val srcDf = sources.getOrElse(graph.vertices.select("id"))
    val inf   = Double.PositiveInfinity

    val edgeCount = graph.edges.count()
    if (localTailThreshold >= 0L && edgeCount <= localTailThreshold) {
      val (ids, es, idx) = collectWeighted(graph, orientation)
      val srcIdx = srcDf.select("id").collect().map(_.getLong(0))
        .flatMap(idx.get).sorted
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
      srcIdx.foreach { s =>
        val dist = relaxLocal(ids.length, es, s, maxRounds, null, -1)
        var v = 0
        while (v < ids.length) {
          if (dist(v) != inf) out += ((ids(s), ids(v), dist(v)))
          v += 1
        }
      }
      return spark.createDataFrame(out.toSeq)
        .toDF("sourceNodeId", "targetNodeId", "distance")
    }

    // width sized to the LARGER of edges and the (s, id) state grid — the
    // state is |sources| x |V| rows and dominates on dense source sets
    val parts = GraphOps.adaptiveParts(spark,
      math.max(edgeCount, srcDf.count() * graph.vertices.count()))
    GraphOps.withShuffleWidth(spark, parts) {
    val edges = GraphOps.withWeight(graph.orientedEdges(orientation))
      .select("src", "dst", "weight")
      .repartition(parts, col("src")).persist()
    val init = srcDf.select(col("id").as("s"))
      .crossJoin(graph.vertices.select("id"))
      .repartition(parts, col("id"))
      .select(col("s"), col("id"),
        when(col("id") === col("s"), lit(0.0)).otherwise(lit(inf)).as("dist"),
        (col("id") === col("s")).as(SuperstepLoop.ActiveCol))

    // Fixpoint-stable min-relaxation: fuse supersteps (one multi-stage job
    // per batch) to drop the per-round driver sync; maxRounds is still an
    // exact cap inside the fused loop. The update rule is
    // SuperstepLoop.relax's, but keyed by (s, id): the state, and so the
    // frontier a hash join would build on, is sources x V rows, not V-sized,
    // so this step keeps its own (sort-merge) joins.
    val relaxed = SuperstepLoop.run(init,
        LoopConfig(maxRounds, fusedSteps = 4)) { (state, _) =>
      val candidates = state.filter(col(SuperstepLoop.ActiveCol))
        .select(col("s"), col("id").as("src"), col("dist"))
        .join(edges, "src")
        .select(col("s"), col("dst").as("id"),
          (col("dist") + col("weight")).as("cand"))
        .groupBy("s", "id").agg(min("cand").as("cand"))
      state.select("s", "id", "dist").join(candidates, Seq("s", "id"), "left")
        .select(col("s"), col("id"),
          least(col("dist"), coalesce(col("cand"), col("dist"))).as("dist"),
          (coalesce(col("cand"), lit(inf)) < col("dist")).as(SuperstepLoop.ActiveCol))
    }
    edges.unpersist(false)
    relaxed.state.filter(col("dist") =!= inf)
      .select(col("s").as("sourceNodeId"), col("id").as("targetNodeId"),
        col("dist").as("distance"))
    }
  }
}
