package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.algo.{LabelPropagation, LpConfig, Schedule}
import graft.core.PropertyGraph

/** Transcribed from the reference's LabelPropagationTest.java:70-180
  * (FIXTURES.md §B3). Node order: Alice=0, Bridget=1, Charles=2, Doug=3,
  * Mark=4, Michael=5; seedIds 2,3,4,3,4,2. */
class LabelPropagationSpec extends AnyFunSuite with SparkTestBase {

  val Seq(alice, bridget, charles, doug, mark, michael) = (0L to 5L)
  val edges: Seq[(Long, Long)] = Seq(
    alice -> bridget, alice -> charles, mark -> doug, bridget -> michael,
    doug -> mark, michael -> alice, alice -> michael, bridget -> alice,
    michael -> bridget, charles -> doug)

  lazy val graph = graphOf(6, edges)

  def seededGraph: PropertyGraph = {
    import spark.implicits._
    PropertyGraph(
      Seq((alice, 2L), (bridget, 3L), (charles, 4L), (doug, 3L), (mark, 4L), (michael, 2L))
        .toDF("id", "seedId"),
      edges.toDF("src", "dst"))
  }

  test("1 iteration, no seed: labels are node ids after one in-order sweep") {
    // fixture-parity schedule: the reference's single-batch in-order sweep
    val r = LabelPropagation.run(graph,
      LpConfig(maxIterations = 1, schedule = Schedule.Sweep))
    val labels = collectLongMap(r.labels, "id", "label")
    assert(labels == Map(
      alice -> bridget, bridget -> bridget, charles -> doug,
      doug -> mark, mark -> mark, michael -> bridget), s"got $labels")
    assert(r.ranIterations == 1)
  }

  test("1 iteration with seedProperty") {
    val r = LabelPropagation.run(seededGraph,
      LpConfig(maxIterations = 1, seedProperty = Some("seedId"),
        schedule = Schedule.Sweep))
    val labels = collectLongMap(r.labels, "id", "label")
    assert(labels == Map(
      alice -> 2L, bridget -> 2L, charles -> 3L, doug -> 4L, mark -> 4L, michael -> 2L),
      s"got $labels")
  }

  test("convergence: exactly 2 clusters {0,1,5} and {2,3,4}, >=2 iterations") {
    val r = LabelPropagation.run(graph, LpConfig(maxIterations = 100))
    val labels = collectLongMap(r.labels, "id", "label")
    val clusters = labels.groupBy(_._2).values.map(_.keySet).toSet
    assert(clusters == Set(Set(alice, bridget, michael), Set(charles, doug, mark)),
      s"got $labels")
    assert(r.didConverge && r.ranIterations >= 2)
  }

  test("sync schedule also finds the two communities") {
    val r = LabelPropagation.run(graph, LpConfig(maxIterations = 50, schedule = Schedule.Sync))
    val labels = collectLongMap(r.labels, "id", "label")
    val clusters = labels.groupBy(_._2).values.map(_.keySet).toSet
    assert(clusters == Set(Set(alice, bridget, michael), Set(charles, doug, mark)),
      s"got $labels")
  }

  test("sync labels are identical at 2 and 7 partitions") {
    for (iterations <- Seq(1, 2, 50)) {
      def at(p: Int) = {
        val r = LabelPropagation.run(graph,
          LpConfig(maxIterations = iterations, numPartitions = Some(p)))
        (collectLongMap(r.labels, "id", "label"), r.ranIterations, r.didConverge)
      }
      assert(at(2) == at(7), s"maxIterations $iterations")
    }
  }

  test("seed init rule: missing seeds get maxSeenSeed + originalId + 1") {
    import spark.implicits._
    // node 2 has no seed; maxSeen = 7 -> its init label = 7 + 2 + 1 = 10.
    // No edges: labels stay at init.
    val g = PropertyGraph(
      Seq((0L, Some(5L)), (1L, Some(7L)), (2L, None)).toDF("id", "seedId"),
      Seq.empty[(Long, Long)].toDF("src", "dst"))
    val r = LabelPropagation.run(g, LpConfig(maxIterations = 1, seedProperty = Some("seedId")))
    val labels = collectLongMap(r.labels, "id", "label")
    assert(labels == Map(0L -> 5L, 1L -> 7L, 2L -> 10L), s"got $labels")
  }
}
