package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, Orientation, PropertyGraph}
import graft.pregel.{LoopConfig, SuperstepLoop}

/** Speaker-Listener Label Propagation (SLPA) — overlapping communities.
  *
  * Reference: alpha/alpha-proc/src/main/java/org/neo4j/gds/pregel/
  * SpeakerListenerLPA.java — a Pregel computation where every node keeps a
  * memory of labels; each round every neighbor SPEAKS one label drawn from
  * its memory (probability proportional to its frequency) and the LISTENER
  * adopts the most frequent label heard, appending it to memory. After the
  * rounds, labels held with frequency >= `minAssociationStrength` form the
  * node's (overlapping) community set.
  *
  * Spark formulation: memory is an `array<long>` column (bounded by the
  * iteration count, exactly like the reference's per-node arrays). The
  * speaker's draw is derandomized with a seeded hash — picking a uniform
  * index into the memory array IS frequency-proportional sampling — so runs
  * are reproducible regardless of partitioning. One shuffle per round
  * (listener-side groupBy with map-side combine); edges symmetrized once and
  * persisted. */
object Sllpa {

  final case class Result(communities: DataFrame, ranIterations: Int)

  def run(graph: PropertyGraph, maxIterations: Int = 10,
          minAssociationStrength: Double = 0.2, seed: Long = 42L,
          localTailThreshold: Long = 500000L): Result = {
    val spark = graph.edges.sparkSession
    val edgeCount = graph.edges.count()
    if (localTailThreshold >= 0L && edgeCount <= localTailThreshold)
      return runLocal(graph, maxIterations, minAssociationStrength, seed)
    val parts = GraphOps.adaptiveParts(spark, edgeCount)

    val edges = SuperstepLoop.persistInput(graph.orientedEdges(Orientation.Undirected)
      .select("src", "dst").filter(col("src") =!= col("dst")), parts, "src", distinct = true)
    edges.count()

    val init = graph.vertices
      .select(col("id"), array(col("id")).as("memory"),
              lit(true).as(SuperstepLoop.ActiveCol))
      .repartition(parts, col("id"))

    // NOTE: measured — fusing supersteps (LoopConfig.fusedSteps) does NOT
    // help here: SLPA's cost is its per-round shuffles (speak + two listen
    // aggregations), not driver actions, and the 5-deep fused plan pays
    // ~2x first-run codegen. One action per round stays.
    val loop = GraphOps.withShuffleWidth(spark, parts) {
      SuperstepLoop.run(init, LoopConfig(maxIterations))(step(edges, seed))
    }
    edges.unpersist(false)

    // post-process: labels with frequency >= threshold over the memory size
    val exploded = loop.state
      .select(col("id"), size(col("memory")).as("m"),
              explode(col("memory")).as("label"))
    val communities = exploded
      .groupBy("id", "m", "label").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= col("m") * lit(minAssociationStrength))
      .groupBy("id").agg(sort_array(collect_list("label")).as("communityIds"))
    Result(communities, loop.ranIterations)
  }

  /** One round over `state` (id, memory, _active): every vertex [[speak]]s,
    * and each listener appends the label it heard most often (ties to the
    * smallest label). The two-level vote (count per label, then the argmax)
    * needs the (id, label) pairs, so it groups on its own instead of
    * through [[SuperstepLoop.gather]]. */
  private[graft] def step(edges: DataFrame, seed: Long)(state: DataFrame, iter: Int): DataFrame = {
    val heard = speak(edges, seed)(state, iter)
      .groupBy("id", "label").agg(count(lit(1)).as("cnt"))
      .groupBy("id").agg(min(struct(-col("cnt"), col("label"))).as("pick"))
      .select(col("id"), col("pick.label").as("accepted"))
    SuperstepLoop.joinBack(state.select("id", "memory"), heard)
      .select(col("id"),
        when(col("accepted").isNull, col("memory"))
          .otherwise(concat(col("memory"), array(col("accepted")))).as("memory"),
        lit(true).as(SuperstepLoop.ActiveCol))
  }

  /** The speaker side of a round: every vertex draws one label from its
    * memory (a uniform index into it is a frequency-proportional draw) and
    * sends it along the src-partitioned symmetric `edges` through the
    * superstep kernel's scatter; returns (id = listener, label). */
  private[graft] def speak(edges: DataFrame, seed: Long)(state: DataFrame, iter: Int): DataFrame = {
    val speakers = state.select(col("id"),
      element_at(col("memory"),
        (pmod(xxhash64(col("id"), lit(iter), lit(seed)), size(col("memory"))) + 1).cast("int"))
        .as("label"))
    SuperstepLoop.scatter(speakers, edges).select(col("dst").as("id"), col("label"))
  }

  /** Driver-local tail for sub-threshold graphs: the EXACT same rounds —
    * speaker draw via Spark's own XXH64 chain (id, iter:int, seed:long),
    * most-frequent-heard with smallest-label ties, memory append — on
    * arrays. Deterministic, so local == distributed exactly (asserted in
    * CommunityExtrasSpec). */
  private def runLocal(graph: PropertyGraph, maxIterations: Int,
                       minAssociationStrength: Double, seed: Long): Result = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import scala.collection.mutable
    val spark = graph.edges.sparkSession
    val ids = graph.vertices.select("id").collect().map(_.getLong(0))
    val n   = ids.length
    val idx = mutable.HashMap.empty[Long, Int]
    var i = 0
    while (i < n) { idx(ids(i)) = i; i += 1 }
    // symmetric deduped edge set, no loops (directed pairs, like distinct())
    val pairs = mutable.HashSet.empty[(Int, Int)]
    graph.edges.select("src", "dst").collect().foreach { r =>
      (idx.get(r.getLong(0)), idx.get(r.getLong(1))) match {
        case (Some(a), Some(b)) if a != b => pairs += ((a, b)); pairs += ((b, a))
        case _                            => ()
      }
    }
    val eArr = pairs.toArray
    val memory = Array.fill(n)(mutable.ArrayBuffer.empty[Long])
    i = 0
    while (i < n) { memory(i) += ids(i); i += 1 }

    var iter = 0
    while (iter < maxIterations) {
      iter += 1
      // speaker: uniform index into memory = frequency-proportional draw;
      // hash chain mirrors xxhash64(col("id"), lit(iter:Int), lit(seed))
      val spokenLabel = new Array[Long](n)
      i = 0
      while (i < n) {
        val h = XXH64.hashLong(seed,
          XXH64.hashInt(iter, XXH64.hashLong(ids(i), 42L)))
        val m = memory(i).length
        spokenLabel(i) = memory(i)(((h % m + m) % m).toInt)
        i += 1
      }
      // listener: per node, most frequent heard label, ties -> smallest
      val heard = Array.fill(n)(null: mutable.HashMap[Long, Long])
      eArr.foreach { case (src, dst) =>
        if (heard(dst) == null) heard(dst) = mutable.HashMap.empty[Long, Long]
        val hm = heard(dst)
        hm(spokenLabel(src)) = hm.getOrElse(spokenLabel(src), 0L) + 1L
      }
      i = 0
      while (i < n) {
        if (heard(i) != null) {
          var bestLabel = Long.MaxValue
          var bestCnt   = -1L
          heard(i).foreach { case (label, cnt) =>
            if (cnt > bestCnt || (cnt == bestCnt && label < bestLabel)) {
              bestCnt = cnt; bestLabel = label
            }
          }
          memory(i) += bestLabel
        }
        i += 1
      }
    }
    // post-process: labels with frequency >= threshold over memory size
    val rows = ids.indices.map { v =>
      val m   = memory(v).length
      val cnt = mutable.HashMap.empty[Long, Long]
      memory(v).foreach(l => cnt(l) = cnt.getOrElse(l, 0L) + 1L)
      val kept = cnt.collect {
        case (l, c) if c >= m * minAssociationStrength => l
      }.toSeq.sorted
      (ids(v), kept)
    }
    Result(spark.createDataFrame(rows).toDF("id", "communityIds"), iter)
  }
}
