package graft

import org.apache.spark.sql.GraftTestAccess
import org.scalatest.funsuite.AnyFunSuite
import graft.algo.SpanningTree

/** Fixtures mirror the reference's PrimTest/KSpanningTreeTest shapes
  * (alpha/alpha-algo/src/test/java/org/neo4j/gds/impl/spanningtree/):
  * small weighted graphs with known minimum/maximum trees. */
class SpanningTreeSpec extends AnyFunSuite with SparkTestBase {

  private def treeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private val fixtureEdges = Seq(
    (0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0),
    (3L, 4L, 4.0), (0L, 4L, 10.0), (1L, 3L, 8.0))

  test("minimum spanning tree on the path-with-chords fixture") {
    val g = weightedGraphOf(5, fixtureEdges)
    val r = SpanningTree.run(g, startNode = Some(0L))
    assert(treeSet(r.treeEdges) ==
      Set((0L, 1L, 1.0), (1L, 2L, 2.0), (2L, 3L, 3.0), (3L, 4L, 4.0)))
  }

  test("maximum spanning tree negates the selection") {
    val g = weightedGraphOf(5, fixtureEdges)
    val r = SpanningTree.run(g, startNode = Some(0L), minimize = false)
    assert(treeSet(r.treeEdges) ==
      Set((0L, 4L, 10.0), (1L, 3L, 8.0), (3L, 4L, 4.0), (2L, 3L, 3.0)))
  }

  test("spanning forest covers all components; startNode restricts") {
    val g = weightedGraphOf(7, fixtureEdges :+ (5L, 6L, 7.0))
    val forest = SpanningTree.run(g, startNode = None)
    assert(treeSet(forest.treeEdges).size == 5) // 4 + 1 across two components
    assert(treeSet(forest.treeEdges).contains((5L, 6L, 7.0)))
    val only = SpanningTree.run(g, startNode = Some(5L))
    assert(treeSet(only.treeEdges) == Set((5L, 6L, 7.0)))
  }

  test("distributed Borůvka path (threshold 0) matches the local tail") {
    val g = weightedGraphOf(7, fixtureEdges :+ (5L, 6L, 7.0))
    val dist = SpanningTree.run(g, startNode = None, localSolveThreshold = 0L)
    val local = SpanningTree.run(g, startNode = None)
    assert(treeSet(dist.treeEdges) == treeSet(local.treeEdges))
  }

  test("distributed and local paths leave no cache entries behind") {
    val g = weightedGraphOf(7, fixtureEdges :+ (5L, 6L, 7.0))
    // a path graph makes the distributed path pointer-jump more than once
    val path = weightedGraphOf(16, (0L until 15L).map(i => (i, i + 1, 1.0 + i)))
    for ((graph, threshold) <- Seq((g, 0L), (path, 0L), (g, 100000L))) {
      val before = GraftTestAccess.cachedEntries(spark)
      val r = SpanningTree.run(graph, startNode = None, localSolveThreshold = threshold)
      r.treeEdges.count()
      // the result itself is persisted for the caller; nothing else may stay
      r.treeEdges.unpersist(true)
      assert(GraftTestAccess.cachedEntries(spark) <= before,
        s"threshold $threshold: ${GraftTestAccess.cachedEntries(spark) - before} entries leaked")
    }
  }

  test("kSpanningTree cuts the heaviest edges into k clusters") {
    val g = weightedGraphOf(5, fixtureEdges)
    val clusters = collectLongMap(
      SpanningTree.kSpanningTree(g, k = 2, startNode = Some(0L)), "id", "clusterId")
    // MST is the path 0-1-2-3-4; cutting (3,4,4.0) leaves {0,1,2,3} and {4}
    assert(clusters == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 4L))
  }
}
