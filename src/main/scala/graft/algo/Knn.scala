package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ops.Ann

/** K-nearest-neighbours over a node embedding column via NN-descent.
  *
  * Reference: algo/src/main/java/org/neo4j/gds/similarity/knn/Knn.java:1-530
  * (Dong et al. NN-descent: random initial lists, then rounds of
  * "neighbours-of-neighbours" local joins — forward + reversed lists — with
  * per-node bounded candidate sampling, stopping when fewer than
  * `deltaThreshold * n * k` list entries changed in a round).
  *
  * Spark formulation — per round:
  *   1. adjacency = current lists ∪ reversed lists, the reverse side CAPPED
  *      at k per node (deterministic hash-ordered sample — the reference's
  *      `sampledK` bound) so a popular vector can't quadratically explode the
  *      local join;
  *   2. local join: two entries sharing a list owner become a candidate pair
  *      (one self-equi-join on the owner, bare-id shuffle, distinct);
  *   3. exact cosine on candidates (joined to vectors twice — broadcast or
  *      co-partitioned joins), 5-dp rounded for cross-run determinism;
  *   4. union with the incumbent lists → per-node top-k window (partitioned
  *      by node: no global sort anywhere).
  *
  * Every shuffle key is a node id or id pair; per-node work is bounded by
  * (2k)² candidates — the O(n²) brute-force pair space is never formed. The
  * convergence count is one tiny action per round (the round is already a
  * multi-shuffle job, so the driver sync is not the bottleneck — unlike the
  * per-superstep case SuperstepLoop.fusedSteps removes).
  */
object Knn {

  /** Reference defaults: KnnBaseConfig.java (sampleRate 0.5 expressed here
    * as the hard reverse-cap k, deltaThreshold 0.001, maxIterations 100 —
    * bounded lower here because DataFrame rounds are coarser-grained). */
  final case class KnnConfig(
    k: Int = 10,
    maxIterations: Int = 8,
    deltaThreshold: Double = 0.001,
    similarityCutoff: Double = 0.0,
    randomJoins: Int = 4,
    seed: Long = 42L,
    /** Corpora at or below this many vectors run the same NN-descent
      * driver-locally (identical hash-seeded decisions — parity asserted in
      * KnnSpec); -1 forces the distributed path. NN-descent round cost is
      * O(n*(2k)^2*dim), so 25k vectors is comfortably sub-second local
      * while the 14s distributed round latency disappears. */
    localTailThreshold: Long = 25000L)

  final case class KnnResult(neighbors: DataFrame, ranIterations: Int, didConverge: Boolean)

  /** Scale-safe dense index 0..n-1 for arbitrary node ids, ordered by id:
    * hash-bucket the ids, rank within each bucket (partitioned window — no
    * single-task global sort), then add per-bucket prefix offsets (one tiny
    * aggregation collected and broadcast). */
  def denseIndex(df: DataFrame, idCol: String, buckets: Int = 64): DataFrame = {
    val ids = df.select(col(idCol).as("id")).distinct()
      .withColumn("__b", pmod(xxhash64(col("id")), lit(buckets.toLong)))
    // bucket by hash but rank by id: indices are a permutation, which is all
    // the pseudo-random init needs (it never relies on index order)
    val local = ids.withColumn("__r",
      row_number().over(Window.partitionBy("__b").orderBy("id")).cast("long"))
    val counts = local.groupBy("__b").agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = counts.scanLeft(0L)(_ + _._2).zip(counts).map {
      case (off, (b, _)) => (b, off)
    }
    val offDf = df.sparkSession.createDataFrame(offsets).toDF("__b", "__off")
    local.join(broadcast(offDf), "__b")
      .select(col("id"), (col("__off") + col("__r") - 1L).as("idx"))
  }

  /** Top-k approximate neighbour lists: (id, neighbor_id, similarity, rank).
    * `vectors` must have (idCol, vecCol: array<float/double>). */
  def run(vectors: DataFrame, cfg: KnnConfig = KnnConfig(),
          idCol: String = "vec_id", vecCol: String = "embedding"): KnnResult = {
    val spark = vectors.sparkSession
    val sessionParts = spark.sessionState.conf.numShufflePartitions
    val n0 = vectors.select(col(idCol)).count()
    if (cfg.localTailThreshold >= 0L && n0 <= cfg.localTailThreshold)
      return runLocal(vectors, cfg, idCol, vecCol)
    // shuffle width sized by WORK, not rows: candidate scoring is
    // O(n·(2k)²·dim), so ~400 vectors per partition is still only ~40 ms of
    // pair scoring at k=20/dim=64 — fine-grained enough to keep cores busy
    // on mid-size corpora while small corpora skip the per-stage scheduling
    // tax of a wide shuffle (each NN-descent round runs ~6 stages, so width
    // overhead is paid many times per run); large corpora use the session's
    // width
    val parts = math.max(2, math.min(sessionParts, (n0 / 400L).toInt + 1))
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try runWithParts(vectors, cfg, idCol, vecCol, parts)
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Driver-local NN-descent replicating the distributed path's decisions
    * EXACTLY: same dense-index permutation, same XXH64 chains for the
    * pseudo-random init / reverse-cap ordering / random joins, same
    * ascending-order dot products on the same L2-normalized doubles (5-dp
    * rounded), same (sim desc, neighbor asc) top-k and incremental is_new
    * convergence rule — so local == distributed bit-for-bit (KnnSpec). */
  private def runLocal(vectors: DataFrame, cfg: KnnConfig,
                       idCol: String, vecCol: String): KnnResult = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import scala.collection.mutable
    val spark = vectors.sparkSession
    def pm(h: Long, m: Long): Long = (h % m + m) % m
    def round5(x: Double): Double = math.floor(x * 100000.0 + 0.5 + 1e-6) / 100000.0

    val rows = vectors.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v")).collect()
    val n = rows.length
    val k = math.min(cfg.k, math.max(0, n - 1))
    if (k == 0) {
      val empty = spark.emptyDataFrame
        .withColumn("id", lit(0L)).withColumn("neighbor_id", lit(0L))
        .withColumn("similarity", lit(0.0)).withColumn("rank", lit(0))
        .limit(0)
      return KnnResult(empty, 0, didConverge = true)
    }
    val ids  = rows.map(_.getLong(0))
    val vecs = rows.map { r =>
      val raw  = r.getSeq[Double](1).toArray
      var s    = 0.0
      raw.foreach(x => s += x * x)
      val norm = math.sqrt(s)
      if (norm == 0.0) raw else raw.map(_ / norm)
    }
    // dense index permutation (mirrors denseIndex): hash-bucket by id,
    // rank by id within bucket, bucket-ascending prefix offsets
    val buckets = ids.indices.groupBy(i => pm(XXH64.hashLong(ids(i), 42L), 64L))
    val idxOf   = new Array[Long](n)
    val rowOfIdx = new Array[Int](n)
    var off = 0L
    buckets.toSeq.sortBy(_._1).foreach { case (_, members) =>
      members.sortBy(ids(_)).foreach { i =>
        idxOf(i) = off; rowOfIdx(off.toInt) = i; off += 1L
      }
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    def simOf(a: Int, b: Int): Double = round5(dot(vecs(a), vecs(b)))
    def skewPartner(myIdx: Long, h: Long): Int = {
      val cand = pm(h, n - 1L)
      rowOfIdx((if (cand >= myIdx) cand + 1L else cand).toInt)
    }

    // per-node state: parallel arrays sorted by (sim desc, neighbor id asc)
    final class NodeList {
      var nb: Array[Int] = Array.empty
      var sim: Array[Double] = Array.empty
      var isNew: Array[Boolean] = Array.empty
    }
    val state = Array.fill(n)(new NodeList)

    // candidate pool per node for this round, deduped by neighbor row
    def rebuild(i: Int, cands: mutable.LongMap[Double], prevSet: mutable.BitSet): Unit = {
      // incumbents participate too (union with state in the distributed plan)
      val li = state(i)
      var j = 0
      while (j < li.nb.length) { cands.getOrElseUpdate(li.nb(j).toLong, li.sim(j)); j += 1 }
      val entries = cands.toArray
      // (sim desc, neighbor ID asc) — neighbor id order, not row order
      val sorted = entries.sortBy { case (r, s) => (-s, ids(r.toInt)) }.take(k)
      val nl = new NodeList
      nl.nb    = sorted.map(_._1.toInt)
      nl.sim   = sorted.map(_._2)
      nl.isNew = sorted.map(e => !prevSet.contains(e._1.toInt))
      state(i) = nl
    }

    // init: k hash-derived partners per node (distinct), then top-k
    var iter = 0
    locally {
      val perNode = Array.fill(n)(new mutable.LongMap[Double])
      var i = 0
      while (i < n) {
        var j = 0
        while (j < k) {
          val h = XXH64.hashInt(j,
            XXH64.hashLong(cfg.seed, XXH64.hashLong(idxOf(i), 42L)))
          val p = skewPartner(idxOf(i), h)
          if (!perNode(i).contains(p.toLong)) perNode(i)(p.toLong) = simOf(i, p)
          j += 1
        }
        i += 1
      }
      i = 0
      while (i < n) {
        rebuild(i, perNode(i), new mutable.BitSet)  // everything is_new
        i += 1
      }
    }

    val stopAt = math.max(1L, (cfg.deltaThreshold * n * k).toLong)
    val dbg = sys.env.contains("GRAFT_DEBUG_KNN")
    var converged = false
    while (!converged && iter < cfg.maxIterations) {
      iter += 1
      val tR = System.nanoTime()
      // adjacency: forward lists + reverse lists capped at k by hash order
      val adjNb  = Array.fill(n)(new mutable.LongMap[Boolean])  // member -> isNew
      val revBuf = Array.fill(n)(null: mutable.ArrayBuffer[(Long, Int, Boolean)])
      var i = 0
      while (i < n) {
        val li = state(i)
        var j = 0
        while (j < li.nb.length) {
          val m = li.nb(j)
          val prev = adjNb(i).getOrElse(m.toLong, false)
          adjNb(i)(m.toLong) = prev || li.isNew(j)
          // reverse entry: owner = m, member = i, hash-ordered cap
          if (revBuf(m) == null) revBuf(m) = mutable.ArrayBuffer.empty
          val h = XXH64.hashLong(iter.toLong, XXH64.hashLong(ids(i), 42L))
          revBuf(m) += ((h, i, li.isNew(j)))
          j += 1
        }
        i += 1
      }
      i = 0
      while (i < n) {
        if (revBuf(i) != null) {
          revBuf(i).sortBy(_._1).take(k).foreach { case (_, m, nw) =>
            val prev = adjNb(i).getOrElse(m.toLong, false)
            adjNb(i)(m.toLong) = prev || nw
          }
        }
        i += 1
      }
      // local join: pairs of members sharing an owner, nbId < nb2Id, at
      // least one side new; plus hash-derived random joins. Distinct via
      // primitive sort+dedup (a boxed HashSet here measured 25s/1M inserts
      // under GC pressure; the primitive path is ~100x faster).
      def encode(a: Int, b: Int): Long = (a.toLong << 32) | (b.toLong & 0xffffffffL)
      val candBuf = new mutable.ArrayBuilder.ofLong
      i = 0
      while (i < n) {
        // flatten the member map once into parallel primitive arrays
        val sz   = adjNb(i).size
        val mRow = new Array[Int](sz)
        val mNew = new Array[Boolean](sz)
        var w = 0
        adjNb(i).foreachEntry { (r, nw) => mRow(w) = r.toInt; mNew(w) = nw; w += 1 }
        var a = 0
        while (a < sz) {
          var b = a + 1
          while (b < sz) {
            if (mNew(a) || mNew(b)) {
              val ra = mRow(a); val rb = mRow(b)
              // direction by node ID: (smaller id, larger id)
              if (ids(ra) < ids(rb)) candBuf += encode(ra, rb)
              else candBuf += encode(rb, ra)
            }
            b += 1
          }
          a += 1
        }
        i += 1
      }
      if (cfg.randomJoins > 0) {
        i = 0
        while (i < n) {
          var j = 0
          while (j < cfg.randomJoins) {
            val h = XXH64.hashInt(j, XXH64.hashLong(iter.toLong,
              XXH64.hashLong(cfg.seed, XXH64.hashLong(idxOf(i), 42L))))
            candBuf += encode(i, skewPartner(idxOf(i), h))
            j += 1
          }
          i += 1
        }
      }
      val candAll = candBuf.result()
      java.util.Arrays.sort(candAll)
      var nCand = 0
      i = 0
      while (i < candAll.length) {
        if (nCand == 0 || candAll(i) != candAll(nCand - 1)) {
          candAll(nCand) = candAll(i); nCand += 1
        }
        i += 1
      }
      val tCand = System.nanoTime()
      // score candidates (both orientations enter the per-node pools)
      val pools    = Array.fill(n)(new mutable.LongMap[Double])
      val prevSets = Array.tabulate(n) { v =>
        val bs = new mutable.BitSet
        state(v).nb.foreach(bs += _)
        bs
      }
      i = 0
      while (i < nCand) {
        val enc = candAll(i)
        val a = (enc >>> 32).toInt
        val b = (enc & 0xffffffffL).toInt
        val s = simOf(a, b)
        pools(a).getOrElseUpdate(b.toLong, s)
        pools(b).getOrElseUpdate(a.toLong, s)
        i += 1
      }
      val tScore = System.nanoTime()
      var updates = 0L
      i = 0
      while (i < n) {
        rebuild(i, pools(i), prevSets(i))
        var j = 0
        while (j < state(i).isNew.length) { if (state(i).isNew(j)) updates += 1L; j += 1 }
        i += 1
      }
      converged = updates <= stopAt
      if (dbg) println(f"KNN-LOCAL iter=$iter cands=$nCand updates=$updates " +
        f"candsSecs=${(tCand - tR) / 1e9}%.2f scoreSecs=${(tScore - tCand) / 1e9}%.2f " +
        f"rebuildSecs=${(System.nanoTime() - tScore) / 1e9}%.2f")
    }

    val out = mutable.ArrayBuffer.empty[(Long, Long, Double, Int)]
    var v = 0
    while (v < n) {
      val lv = state(v)
      var j = 0
      while (j < lv.nb.length) {
        if (lv.sim(j) >= cfg.similarityCutoff)
          out += ((ids(v), ids(lv.nb(j)), lv.sim(j), j + 1))
        j += 1
      }
      v += 1
    }
    KnnResult(spark.createDataFrame(out.toSeq)
      .toDF("id", "neighbor_id", "similarity", "rank"), iter, converged)
  }

  private def runWithParts(vectors: DataFrame, cfg: KnnConfig,
                           idCol: String, vecCol: String, parts: Int): KnnResult = {
    val spark = vectors.sparkSession
    // store L2-NORMALIZED double vectors once: cosine then degrades to a
    // single dot product per candidate pair instead of three interpreted
    // higher-order aggregates (dot + two norms) — the hot path is pair
    // scoring, so this is a ~3x cut of the per-round CPU
    val rawNorm = sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x))
    val vecs = vectors
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .select(col("id"),
        when(rawNorm === 0.0, col("v"))
          .otherwise(transform(col("v"), x => x / rawNorm)).as("v"))
      .repartition(parts, col("id")).persist()
    val n = vecs.count()
    val k = math.min(cfg.k.toLong, math.max(0L, n - 1)).toInt
    if (k == 0) {
      val empty = spark.emptyDataFrame
        .withColumn("id", lit(0L)).withColumn("neighbor_id", lit(0L))
        .withColumn("similarity", lit(0.0)).withColumn("rank", lit(0))
        .limit(0)
      return KnnResult(empty, 0, didConverge = true)
    }

    val index = denseIndex(vecs, "id").persist()
    index.count()

    // vectors are broadcast while the corpus fits an executor (the cheap
    // side of a few-hundred-MB bound); past that, co-partitioned shuffle joins
    val vside = if (n <= 500000L) broadcast(vecs) else vecs
    def withSim(pairs: DataFrame): DataFrame =
      pairs
        .join(vside.select(col("id"), col("v").as("va")), "id")
        .join(vside.select(col("id").as("neighbor_id"), col("v").as("vb")), "neighbor_id")
        .select(col("id"), col("neighbor_id"),
          graft.core.Num.roundTo(
            graft.functions.VectorExprs.vecDot(col("va"), col("vb")), 5)
            .as("similarity"))

    // Pseudo-random init (Knn.java initializeRandomNeighbors): k distinct
    // hash-derived partners per node, skewed around the self index to avoid
    // self-pairs without rejection sampling.
    val initPairs = index
      .select(col("id"), col("idx"), explode(sequence(lit(0), lit(k - 1))).as("j"))
      .withColumn("cand", pmod(xxhash64(col("idx"), lit(cfg.seed), col("j")), lit(n - 1)))
      .withColumn("nidx", when(col("cand") >= col("idx"), col("cand") + 1L).otherwise(col("cand")))
      .join(index.select(col("idx").as("nidx"), col("id").as("neighbor_id")), "nidx")
      .select("id", "neighbor_id").distinct()

    val topW = Window.partitionBy("id").orderBy(desc("similarity"), col("neighbor_id"))
    def topK(scored: DataFrame): DataFrame =
      scored.withColumn("rank", row_number().over(topW)).filter(col("rank") <= k)

    // `cachedState` holds storage; `state` is the PLAN-TRUNCATED view handed
    // to the next round — each round references the state several times, so
    // without truncation the logical plan grows exponentially and the
    // driver dies planning, not executing. State carries an `is_new` flag:
    // Dong et al.'s incremental rule — only entries that ENTERED a list
    // last round generate candidates (new x all), so round cost tracks the
    // churn, not the full list size, and late rounds are nearly free.
    var cachedState = topK(withSim(initPairs))
      .withColumn("is_new", lit(true)).persist()
    cachedState.count()
    var state = org.apache.spark.sql.GraftSqlCompat.truncatePlan(cachedState)

    var iter = 0
    var converged = false
    val stopAt = math.max(1L, (cfg.deltaThreshold * n * k).toLong)
    while (!converged && iter < cfg.maxIterations) {
      iter += 1
      // adjacency entries (owner x, member nb): forward lists + hash-capped
      // reverse lists, each tagged with the member entry's is_new flag
      val fwd = state.select(col("id").as("x"), col("neighbor_id").as("nb"), col("is_new"))
      val rev = state.select(col("neighbor_id").as("x"), col("id").as("nb"), col("is_new"))
        .withColumn("__rk", row_number().over(
          Window.partitionBy("x").orderBy(xxhash64(col("nb"), lit(iter.toLong)))))
        .filter(col("__rk") <= k).drop("__rk")
      val adj = fwd.unionByName(rev)
        .groupBy("x", "nb").agg(max("is_new").as("is_new")).persist()
      // incremental local join: a pair is proposed only when at least one
      // side is new — (new x all), both orientations collapsed by nb < nb2
      val allSide = adj.select(col("x"), col("nb").as("nb2"), col("is_new").as("new2"))
      val local = adj.join(allSide, "x")
        .filter(col("nb") < col("nb2") && (col("is_new") || col("new2")))
        .select(col("nb").as("id"), col("nb2").as("neighbor_id"))
      // random joins (Knn.java:randomJoins): hash-derived fresh partners per
      // node each round — the escape hatch from local-join stagnation that
      // the reference applies after every NN-descent round.
      val rnd = index
        .select(col("id"), col("idx"),
          explode(sequence(lit(0), lit(cfg.randomJoins - 1))).as("j"))
        .withColumn("cand",
          pmod(xxhash64(col("idx"), lit(cfg.seed), lit(iter.toLong), col("j")), lit(n - 1)))
        .withColumn("nidx", when(col("cand") >= col("idx"), col("cand") + 1L).otherwise(col("cand")))
        .join(index.select(col("idx").as("nidx"), col("id").as("neighbor_id")), "nidx")
        .select("id", "neighbor_id")
      val cand = (if (cfg.randomJoins > 0) local.unionByName(rnd) else local).distinct()
      val scored = withSim(cand).persist()
      val next = topK(
        state.select("id", "neighbor_id", "similarity")
          .unionByName(scored)
          .unionByName(scored.select(col("neighbor_id").as("id"),
            col("id").as("neighbor_id"), col("similarity")))
          .groupBy("id", "neighbor_id").agg(max("similarity").as("similarity"))
      ).join(state.select(col("id"), col("neighbor_id"), lit(false).as("__old")),
          Seq("id", "neighbor_id"), "left")
        .withColumn("is_new", col("__old").isNull).drop("__old")
        .persist()
      val updates = next.filter(col("is_new")).count()
      cachedState.unpersist(false)
      adj.unpersist(false)
      scored.unpersist(false)
      cachedState = next
      state = org.apache.spark.sql.GraftSqlCompat.truncatePlan(next)
      converged = updates <= stopAt
    }

    val out = state.filter(col("similarity") >= lit(cfg.similarityCutoff))
      .select("id", "neighbor_id", "similarity", "rank")
    KnnResult(out, iter, converged)
  }
}
