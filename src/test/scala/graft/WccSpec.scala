package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.algo.{Wcc, WccConfig}
import graft.core.PropertyGraph

/** Transcribed from the reference's WccTest.java:274-346 and the hash-min
  * Pregel example ConnectedComponentsPregelAlgoTest (FIXTURES.md §B2/§B5). */
class WccSpec extends AnyFunSuite with SparkTestBase {

  // a..j = 0..9: ring {a,b,c,d}, triangle {e,f,g}, pair {h,i}, isolated {j}
  val edges: Seq[(Long, Long)] = Seq(
    0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 0L, // a→b→c→d→a
    4L -> 5L, 5L -> 6L, 6L -> 4L,           // e→f→g→e
    8L -> 7L, 7L -> 8L)                     // i→h, h→i
  lazy val graph = graphOf(10, edges)

  test("four components with canonical min-id labels") {
    val r = Wcc.run(graph)
    val comps = collectLongMap(r.components, "id", "componentId")
    val expected = Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      4L -> 4L, 5L -> 4L, 6L -> 4L,
      7L -> 7L, 8L -> 7L,
      9L -> 9L)
    assert(comps == expected, s"got $comps")
    assert(r.didConverge)
  }

  test("fused supersteps produce identical components") {
    // the distributed path (localSolveThreshold = -1) with batched
    // convergence checks must equal the per-round-checked run exactly
    val fused = Wcc.run(graph, WccConfig(localSolveThreshold = -1L, fusedSteps = 4))
    val plain = Wcc.run(graph, WccConfig(localSolveThreshold = -1L))
    assert(collectLongMap(fused.components, "id", "componentId") ==
           collectLongMap(plain.components, "id", "componentId"))
    assert(fused.didConverge)
  }

  test("components are identical at 2 and 7 partitions") {
    def at(p: Int) = {
      val r = Wcc.run(graph, WccConfig(numPartitions = Some(p)))
      (collectLongMap(r.components, "id", "componentId"), r.ranIterations)
    }
    assert(at(2) == at(7))
  }

  test("orientation-independent: reversed edges give identical components") {
    val rev = graph.copy(edges = graph.edges.select(
      col("dst").as("src"), col("src").as("dst")))
    assert(collectLongMap(Wcc.run(rev).components, "id", "componentId") ==
           collectLongMap(Wcc.run(graph).components, "id", "componentId"))
  }

  test("consecutiveIds remaps components to 0..k-1") {
    val r = Wcc.run(graph, WccConfig(consecutiveIds = true))
    val comps = collectLongMap(r.components, "id", "componentId")
    assert(comps.values.toSet == Set(0L, 1L, 2L, 3L))
    // grouping preserved
    assert(Set(0L, 1L, 2L, 3L).map(comps) == Set(comps(0L)))
    assert(comps(4L) == comps(5L) && comps(5L) == comps(6L))
    assert(comps(7L) == comps(8L))
  }

  test("threshold drops light edges (weight > threshold is kept)") {
    val g = weightedGraphOf(4, Seq((0L, 1L, 2.0), (1L, 2L, 0.5), (2L, 3L, 2.0)))
    val comps = collectLongMap(
      Wcc.run(g, WccConfig(threshold = Some(1.0))).components, "id", "componentId")
    assert(comps == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  test("line graph stress: single component, min id label") {
    val line = graphOf(64, (0L until 63L).map(i => i -> (i + 1)))
    val comps = collectLongMap(Wcc.run(line).components, "id", "componentId")
    assert(comps.values.toSet == Set(0L))
  }

  test("star contraction: same labels as hash-min on the fixture graph") {
    val r = Wcc.runStar(graph)
    val expected = collectLongMap(Wcc.run(graph).components, "id", "componentId")
    assert(collectLongMap(r.components, "id", "componentId") == expected)
    assert(r.didConverge)
  }

  test("star contraction: 512-node path converges in O(log n) rounds") {
    // localSolveThreshold = 0 forces the fully-distributed loop
    val line = graphOf(512, (0L until 511L).map(i => i -> (i + 1)))
    val r = Wcc.runStar(line, WccConfig(maxSteps = 30, localSolveThreshold = 0L))
    val comps = collectLongMap(r.components, "id", "componentId")
    assert(comps.values.toSet == Set(0L), s"labels ${comps.values.toSet}")
    assert(r.didConverge, s"did not converge in ${r.ranIterations} rounds")
    assert(r.ranIterations <= 15, s"took ${r.ranIterations} rounds")
  }

  test("star contraction: two paths split by a removed edge") {
    val edges = (0L until 99L).filter(_ != 49L).map(i => i -> (i + 1))
    for (threshold <- Seq(0L, 100000L)) { // distributed and local-tail paths
      val r = Wcc.runStar(graphOf(100, edges),
        WccConfig(localSolveThreshold = threshold))
      val comps = collectLongMap(r.components, "id", "componentId")
      assert((0L to 49L).forall(comps(_) == 0L))
      assert((50L to 99L).forall(comps(_) == 50L))
    }
  }

  test("seeded incremental mode keeps seed component ids") {
    import spark.implicits._
    val vs = Seq((0L, 100L), (1L, 100L), (2L, 100L), (3L, 200L), (4L, 200L))
      .toDF("id", "seed")
    // seeds are *larger* than ids here, so min-id still wins within a
    // component; seeds smaller than ids would win instead
    val vs2 = Seq((0L, -5L), (1L, -5L), (2L, -5L), (3L, 300L), (4L, 300L)).toDF("id", "seed")
    val es  = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("src", "dst")
    val r = Wcc.run(PropertyGraph(vs2, es), WccConfig(seedProperty = Some("seed")))
    val comps = collectLongMap(r.components, "id", "componentId")
    assert(comps(0L) == -5L && comps(1L) == -5L && comps(2L) == -5L)
    assert(comps(3L) == 3L && comps(4L) == 3L)
  }
}
