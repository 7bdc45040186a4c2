package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlCompat}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Orientation, PropertyGraph}

/** Multi-source BFS engine + the centralities built on it.
  *
  * Reference: the MS-BFS engine alpha/alpha-algo/src/main/java/org/neo4j/
  * gds/impl/msbfs/MultiSourceBFS.java:1-547 (64-source bitset batches over
  * shared memory) powering closeness (impl/closeness/
  * MSClosenessCentrality.java:148-156), harmonic (impl/harmonic/
  * HarmonicCentrality.java:56-70) and all-shortest-paths streaming; Brandes
  * betweenness algo/src/main/java/org/neo4j/gds/betweenness/
  * BetweennessCentrality.java (undirected divisor 2 at :74,:185).
  *
  * Spark formulation: the BFS state is a Dataset keyed by (source, node) —
  * every source expands simultaneously in the SAME join (the shuffle is the
  * bitset batch), so rounds = graph eccentricity regardless of source count.
  * `sigma` (shortest-path counts) ride the same aggregation. Source
  * sampling bounds the state to |sources| x reachable for betweenness at
  * scale — the same knob the reference exposes. */
object MsBfs {

  /** Forward multi-source BFS: returns (s, id, dist, sigma) for every
    * (source, reached-node) pair — dist in hops, sigma = number of distinct
    * shortest paths. One shuffle per BFS level. */
  def distSigma(edges: DataFrame, sources: DataFrame, maxDepth: Int = 100): DataFrame = {
    val spark = edges.sparkSession
    // loop-scoped conf (AQE off, no auto-broadcast of the growing visited
    // set): same discipline as SuperstepLoop — per-level
    // re-planning and driver-side state broadcasts are the fixed costs that
    // dominate BFS levels at small per-level compute.
    graft.pregel.SuperstepLoop.withIterationConf(spark) {
      distSigmaScoped(edges, sources, maxDepth)
    }
  }

  private def distSigmaScoped(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    val spark = edges.sparkSession
    // width sized to the larger of the edge table and a per-source frontier
    // allowance (32 rows/source) — see GraphOps.adaptiveParts
    val parts = GraphOps.adaptiveParts(spark,
      math.max(edges.count(), 32L * sources.count()))
    GraphOps.withShuffleWidth(spark, parts) {
    val e = edges.select("src", "dst").repartition(parts, col("src")).persist()

    // The visited set is kept as a LAZY union of per-level caches: each
    // level persists only its own frontier rows, and the dedup anti-join
    // reads the earlier levels straight from cache. The round-2 shape
    // re-materialized the whole accumulated set every level (acc.count()),
    // i.e. O(depth) full copies of a growing table — on a diameter-D graph
    // that is the dominant superstep cost. Here the full set is written
    // exactly once, at the end.
    val level0 = sources.select(col("id").as("s"), col("id"),
        lit(0).as("dist"), lit(1.0).as("sigma"))
      .repartition(parts, col("id")).persist()
    level0.count()
    var levels      = List(level0)
    var visitedKeys = level0.select("s", "id")
    var frontier: DataFrame = level0
    var depth    = 0
    var more     = true
    while (more && depth < maxDepth) {
      depth += 1
      val next = frontier
        .select(col("s"), col("id").as("src"), col("sigma"))
        .join(e, "src")
        .groupBy(col("s"), col("dst").as("id")).agg(sum("sigma").as("sigma"))
        .join(visitedKeys, Seq("s", "id"), "left_anti")
        .select(col("s"), col("id"), lit(depth).as("dist"), col("sigma"))
        .repartition(parts, col("id"))
        .persist()
      more = next.count() > 0
      if (more) {
        val nt = GraftSqlCompat.truncatePlan(next)
        levels    ::= nt
        visitedKeys = visitedKeys.unionByName(nt.select("s", "id"))
        frontier    = nt
      } else next.unpersist(false)
    }
    // One materialized copy of the full accumulation (keeps the contract:
    // callers get a persisted, lineage-truncated result), then the
    // per-level caches are released.
    val out = GraftSqlCompat.truncatePlan(
      levels.reverse.reduce(_ unionByName _)
        .repartition(parts, col("id"))).persist()
    out.count()
    levels.foreach(_.unpersist(false))
    e.unpersist(false)
    out
    }
  }

  /** All-pairs shortest-path distance stream (gds.alpha.allShortestPaths
    * .stream, reference impl/msbfs/MSBFSAllShortestPaths.java): every source
    * expands in the same batched BFS; emits one row per reachable
    * (source, target) pair. `sources` defaults to all vertices — pass a
    * subset to bound the O(sources x reachable) output at scale. */
  def allShortestPaths(graph: PropertyGraph,
                       sources: Option[DataFrame] = None,
                       orientation: Orientation = Orientation.Natural,
                       maxDepth: Int = 100,
                       localTailThreshold: Long = LocalTailEdges): DataFrame = {
    val spark = graph.edges.sparkSession
    val srcDf = sources.getOrElse(graph.vertices.select("id"))
    val e     = graph.orientedEdges(orientation)
    localCsr(e, graph, srcDf, localTailThreshold) match {
      case Some((csr, srcIdx, ids)) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
        val dist = new Array[Int](ids.length)
        srcIdx.foreach { s =>
          bfs(csr, s, maxDepth, dist)
          var v = 0
          while (v < ids.length) {
            if (dist(v) >= 0) out += ((ids(s), ids(v), dist(v).toDouble))
            v += 1
          }
        }
        spark.createDataFrame(out.toSeq)
          .toDF("sourceNodeId", "targetNodeId", "distance")
      case None =>
        distSigma(e, srcDf, maxDepth)
          .select(col("s").as("sourceNodeId"), col("id").as("targetNodeId"),
            col("dist").cast("double").as("distance"))
    }
  }

  /** Closeness centrality (gds.alpha.closeness.*): for each node v,
    * farness = sum of dist(s, v) over sources reaching it (excluding v),
    * componentSize = how many reach it; centrality = comp/farness, or
    * Wasserman-Faust (comp/farness)*(comp/(n-1)). Mirrors
    * MSClosenessCentrality.centrality(...):148-156. */
  def closeness(graph: PropertyGraph,
                orientation: Orientation = Orientation.Undirected,
                wassermanFaust: Boolean = false,
                localTailThreshold: Long = LocalTailEdges): DataFrame = {
    val spark = graph.edges.sparkSession
    val n = graph.vertices.count()
    val e = graph.orientedEdges(orientation)
    localCsr(e, graph, graph.vertices.select("id"), localTailThreshold) match {
      case Some((csr, srcIdx, ids)) =>
        val nn = ids.length
        val (farness, comp) = reduceChunks(csr, srcIdx, nn, 2) { (s, acc, dist) =>
          var v = 0
          while (v < nn) {
            if (dist(v) > 0) { acc(0)(v) += dist(v).toDouble; acc(1)(v) += 1.0 }
            v += 1
          }
        } match { case Array(f, c) => (f, c) }
        val rows = ids.indices.map { v =>
          val cent =
            if (farness(v) == 0.0) 0.0
            else if (wassermanFaust) comp(v) / farness(v) * (comp(v) / (n - 1).toDouble)
            else comp(v) / farness(v)
          (ids(v), cent)
        }
        spark.createDataFrame(rows).toDF("id", "centrality")
      case None =>
        val reach = distSigma(e, graph.vertices.select("id"))
          .filter(col("dist") > 0)
        val agg = reach.groupBy("id").agg(
          sum("dist").as("farness"), count(lit(1)).as("comp"))
        val base = col("comp").cast("double") / col("farness")
        val cent =
          if (wassermanFaust)
            base * (col("comp").cast("double") / lit((n - 1).toDouble))
          else base
        graph.vertices.select("id").join(agg, Seq("id"), "left")
          .select(col("id"),
            when(col("farness").isNull || col("farness") === 0, lit(0.0))
              .otherwise(cent).as("centrality"))
    }
  }

  /** Harmonic centrality (gds.alpha.closeness.harmonic.*):
    * inverseFarness(v) = sum of 1/dist(s,v); centrality = that / (n-1).
    * Mirrors HarmonicCentrality.java:56-70 + result scaling. */
  def harmonic(graph: PropertyGraph,
               orientation: Orientation = Orientation.Undirected,
               localTailThreshold: Long = LocalTailEdges): DataFrame = {
    val spark = graph.edges.sparkSession
    val n = graph.vertices.count()
    val e = graph.orientedEdges(orientation)
    localCsr(e, graph, graph.vertices.select("id"), localTailThreshold) match {
      case Some((csr, srcIdx, ids)) =>
        val nn  = ids.length
        val inv = reduceChunks(csr, srcIdx, nn, 1) { (s, acc, dist) =>
          var v = 0
          while (v < nn) {
            if (dist(v) > 0) acc(0)(v) += 1.0 / dist(v); v += 1
          }
        }.head
        val rows = ids.indices.map(v => (ids(v), inv(v) / (n - 1).toDouble))
        spark.createDataFrame(rows).toDF("id", "centrality")
      case None =>
        val reach = distSigma(e, graph.vertices.select("id"))
          .filter(col("dist") > 0)
        val agg = reach.groupBy("id")
          .agg(sum(lit(1.0) / col("dist")).as("inv"))
        graph.vertices.select("id").join(agg, Seq("id"), "left")
          .select(col("id"),
            (coalesce(col("inv"), lit(0.0)) / lit((n - 1).toDouble)).as("centrality"))
    }
  }

  /** Brandes betweenness centrality, optionally over a sampled source set
    * (reference: BetweennessCentrality.java with SelectionStrategy;
    * undirected graphs divide by 2). Forward MS-BFS computes (dist, sigma);
    * the backward sweep accumulates pair dependencies level by level:
    * delta(s,v) = sum over successors w of sigma_v/sigma_w * (1 + delta(s,w)).
    * Each level is one join-aggregation, chained lazily — a single job
    * materializes the whole accumulation. */
  // NOTE: the backward accumulation deliberately runs WITHOUT the scoped
  // iteration conf — it is one lazily-chained multi-level job (not a
  // materialize-per-step loop), and measured 2x faster with AQE + runtime
  // broadcast of the shrinking per-level delta frames (12s vs 23s at the
  // benchmark shape). Only the forward distSigma loop uses the loop conf.
  def betweenness(graph: PropertyGraph,
                  sources: Option[DataFrame] = None,
                  orientation: Orientation = Orientation.Natural,
                  localTailThreshold: Long = LocalTailEdges): DataFrame = {
    val spark = graph.edges.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val edgesRaw = graph.orientedEdges(orientation).select("src", "dst").distinct()
    val srcDf0   = sources.getOrElse(graph.vertices.select("id"))
    val divisor0 = orientation match {
      case Orientation.Undirected => 2.0
      case _                      => 1.0
    }
    localCsr(edgesRaw, graph, srcDf0, localTailThreshold) match {
      case Some((csr, srcIdx, ids)) =>
        return localBrandes(spark, csr, srcIdx, ids, divisor0)
      case None => ()
    }
    // edges persisted at the adaptive width so the per-level backward joins
    // aren't fanned across near-empty full-width partitions on small inputs
    val adaptParts = GraphOps.adaptiveParts(spark, edgesRaw.count())
    val edges = edgesRaw.repartition(adaptParts, col("src")).persist()
    val srcDf = srcDf0

    val visited = distSigma(edges, srcDf).persist()
    val maxDRow = visited.agg(max("dist")).first()
    val maxD    = if (maxDRow.isNullAt(0)) 0 else maxDRow.getInt(0)

    val divisor = orientation match {
      case Orientation.Undirected => 2.0
      case _                      => 1.0
    }

    // Backward accumulation: deltas land exactly once per (s, v) — at v's
    // level — so a lazy union across levels is a disjoint accumulation.
    var deltaPrev: DataFrame = visited.filter(col("dist") === maxD)
      .select(col("s"), col("id"), lit(0.0).as("delta")).persist()
    var acc: DataFrame = deltaPrev
    val levelFrames = scala.collection.mutable.ArrayBuffer[DataFrame](deltaPrev)
    var level = maxD
    while (level > 0) {
      level -= 1
      val atPrev = deltaPrev // (s, w, delta) at level+1 with final deltas
      val contrib = atPrev
        .join(visited.select(col("s"), col("id"), col("sigma")), Seq("s", "id"))
        .select(col("s"), col("id").as("dst"), col("sigma").as("sw"), col("delta"))
        .join(edges, "dst")
        .select(col("s"), col("src").as("id"), col("sw"), col("delta"))
        .join(visited.filter(col("dist") === level)
          .select(col("s"), col("id"), col("sigma").as("sv")), Seq("s", "id"))
        .groupBy("s", "id")
        .agg(sum(col("sv") / col("sw") * (lit(1.0) + col("delta"))).as("delta"))
      val deltaHere = visited.filter(col("dist") === level)
        .select("s", "id")
        .join(contrib, Seq("s", "id"), "left")
        .select(col("s"), col("id"), coalesce(col("delta"), lit(0.0)).as("delta"))
        .persist()
      acc = acc.unionByName(deltaHere)
      deltaPrev = deltaHere
      levelFrames += deltaHere
    }
    val result = graph.vertices.select("id")
      .join(acc.filter(col("s") =!= col("id"))
        .groupBy("id").agg(sum("delta").as("c")), Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("c"), lit(0.0)) / lit(divisor)).as("centrality"))
      .persist()
    result.count()
    levelFrames.foreach(_.unpersist(false))
    visited.unpersist(false)
    edges.unpersist(false)
    result
  }

  // ------------------------- driver-local tail -------------------------
  // BFS-family algorithms on a graph below these bounds run driver-locally
  // with mathematically identical semantics (integer dists and sigma counts
  // are exact; dependency/centrality sums differ only in FP order, which
  // the 6-dp oracle rounding absorbs). At web scale the distributed MS-BFS
  // is the only option; paying ~0.5s of shuffle-round latency PER BFS LEVEL
  // on a 300-node fixture graph is pure waste. Parity local==distributed is
  // asserted in CentralitySpec. Sources fan out over a deterministic
  // chunk-ordered parallel reduce, so results are run-stable.

  /** Edge-count bound for the local tail (-1 disables). */
  val LocalTailEdges: Long = 500000L
  /** sources x edges work bound (single-BFS traversals) for the local tail. */
  private val LocalWorkBound = 4e9

  private final case class Csr(off: Array[Int], nbr: Array[Int])

  /** Collects the EXACT edge rows the distributed path would consume into a
    * CSR when the graph and the sources x edges work fit the local bounds.
    * Returns (csr, source indices, vertex ids) or None to stay distributed. */
  private def localCsr(edges: DataFrame, graph: PropertyGraph, sources: DataFrame,
                       threshold: Long): Option[(Csr, Array[Int], Array[Long])] = {
    if (threshold < 0L) return None
    val eCount = edges.count()
    if (eCount > threshold) return None
    val nSrc = sources.count()
    if (nSrc.toDouble * eCount > LocalWorkBound) return None
    val ids = graph.vertices.select("id").collect().map(_.getLong(0))
    val idx = new scala.collection.mutable.HashMap[Long, Int]
    var i = 0
    while (i < ids.length) { idx(ids(i)) = i; i += 1 }
    val rows = edges.select("src", "dst").collect()
    val cnt  = new Array[Int](ids.length)
    rows.foreach { r =>
      (idx.get(r.getLong(0)), idx.get(r.getLong(1))) match {
        case (Some(s), Some(_)) => cnt(s) += 1
        case _                  => ()
      }
    }
    val off = new Array[Int](ids.length + 1)
    i = 0
    while (i < ids.length) { off(i + 1) = off(i) + cnt(i); i += 1 }
    val nbr    = new Array[Int](off(ids.length))
    val cursor = java.util.Arrays.copyOf(off, ids.length)
    rows.foreach { r =>
      (idx.get(r.getLong(0)), idx.get(r.getLong(1))) match {
        case (Some(s), Some(d)) => nbr(cursor(s)) = d; cursor(s) += 1
        case _                  => ()
      }
    }
    val srcIdx = sources.select("id").collect()
      .flatMap(r => idx.get(r.getLong(0)))
    Some((Csr(off, nbr), srcIdx, ids))
  }

  /** BFS from `s` filling `dist` (-1 = unreached); returns the visit order
    * and leaves hop counts in `dist`. */
  private def bfs(csr: Csr, s: Int, maxDepth: Int, dist: Array[Int]): Array[Int] = {
    java.util.Arrays.fill(dist, -1)
    val order = new Array[Int](dist.length)
    var head = 0; var tail = 0
    dist(s) = 0; order(tail) = s; tail += 1
    while (head < tail) {
      val v = order(head); head += 1
      if (dist(v) < maxDepth) {
        var p = csr.off(v)
        while (p < csr.off(v + 1)) {
          val w = csr.nbr(p)
          if (dist(w) < 0) { dist(w) = dist(v) + 1; order(tail) = w; tail += 1 }
          p += 1
        }
      }
    }
    java.util.Arrays.copyOf(order, tail)
  }

  /** Deterministic parallel accumulation over sources: fixed-order chunks
    * each fill their own accumulator arrays (one BFS scratch per chunk);
    * chunk results reduce in chunk order, so FP sums are run-stable. */
  private def reduceChunks(csr: Csr, srcIdx: Array[Int], n: Int, nAcc: Int)
                          (body: (Int, Array[Array[Double]], Array[Int]) => Unit)
                          : Array[Array[Double]] = {
    val nChunks   = math.max(1, math.min(32, srcIdx.length))
    val chunkAccs = new Array[Array[Array[Double]]](nChunks)
    java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
      val acc  = Array.fill(nAcc)(new Array[Double](n))
      val dist = new Array[Int](n)
      var i = c
      while (i < srcIdx.length) {
        bfs(csr, srcIdx(i), 100, dist)   // distSigma's default maxDepth
        body(srcIdx(i), acc, dist)
        i += nChunks
      }
      chunkAccs(c) = acc
    }
    val out = Array.fill(nAcc)(new Array[Double](n))
    chunkAccs.foreach { acc =>
      var a = 0
      while (a < nAcc) {
        var v = 0
        while (v < n) { out(a)(v) += acc(a)(v); v += 1 }
        a += 1
      }
    }
    out
  }

  /** Exact Brandes over the CSR, parallel over deterministic source chunks.
    * delta(v) = sum over out-neighbors w at dist(v)+1 of
    * sigma_v/sigma_w * (1 + delta(w)) — the same accumulation the
    * distributed backward sweep performs level by level. */
  private def localBrandes(spark: org.apache.spark.sql.SparkSession, csr: Csr,
                           srcIdx: Array[Int], ids: Array[Long],
                           divisor: Double): DataFrame = {
    val n = ids.length
    val nChunks   = math.max(1, math.min(32, srcIdx.length))
    val chunkAccs = new Array[Array[Double]](nChunks)
    java.util.stream.IntStream.range(0, nChunks).parallel().forEach { c =>
      val acc   = new Array[Double](n)
      val dist  = new Array[Int](n)
      val sigma = new Array[Double](n)
      val delta = new Array[Double](n)
      var i = c
      while (i < srcIdx.length) {
        val s = srcIdx(i)
        val order = bfs(csr, s, 100, dist)  // distSigma's default maxDepth
        java.util.Arrays.fill(sigma, 0.0)
        sigma(s) = 1.0
        var oi = 0
        while (oi < order.length) {          // forward: sigma in BFS order
          val v = order(oi)
          var p = csr.off(v)
          while (p < csr.off(v + 1)) {
            val w = csr.nbr(p)
            if (dist(w) == dist(v) + 1) sigma(w) += sigma(v)
            p += 1
          }
          oi += 1
        }
        oi = order.length - 1
        while (oi >= 0) {                    // backward: dependencies
          val v = order(oi)
          var d = 0.0
          var p = csr.off(v)
          while (p < csr.off(v + 1)) {
            val w = csr.nbr(p)
            if (dist(w) == dist(v) + 1) d += sigma(v) / sigma(w) * (1.0 + delta(w))
            p += 1
          }
          delta(v) = d
          if (v != s) acc(v) += d
          oi -= 1
        }
        i += nChunks
      }
      chunkAccs(c) = acc
    }
    val cent = new Array[Double](n)
    chunkAccs.foreach { acc =>
      var v = 0
      while (v < n) { cent(v) += acc(v); v += 1 }
    }
    val rows = ids.indices.map(v => (ids(v), cent(v) / divisor))
    spark.createDataFrame(rows).toDF("id", "centrality")
  }
}
