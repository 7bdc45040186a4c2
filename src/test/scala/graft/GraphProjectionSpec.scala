package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftTestAccess}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.algo.{LabelPropagation, LpConfig, PageRank, PageRankConfig, Wcc}
import graft.core.{GraphOps, PropertyGraph}
import java.util.concurrent.atomic.AtomicLong

/** The projections a [[PropertyGraph]] owns (`outEdges`, `inEdges`,
  * `vertexIds`): built once, shared by every algorithm call on the graph,
  * rebuilt after the cache is cleared and freed when the graph is dropped. */
class GraphProjectionSpec extends AnyFunSuite with SparkTestBase {

  private val n = 200L
  private val m = 600L

  /** A multigraph with self-loops over ids 0..n-1; `salt` keeps its plans,
    * and so its cache entries, apart from every other test's. */
  private def saltedGraph(salt: Long): PropertyGraph = PropertyGraph(
    spark.range(n).toDF("id"),
    spark.range(m).select((col("id") % n).as("src"),
      pmod(xxhash64(col("id"), lit(salt)), lit(n)).as("dst")))

  /** Shuffle records written by the tasks `body` runs. */
  private def shuffleRecords(body: => Unit): Long = {
    GraftTestAccess.drainListeners(spark)
    val written = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftTestAccess.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    written.get
  }

  private def lp(g: PropertyGraph): DataFrame = LabelPropagation.run(g, LpConfig(maxIterations = 3)).labels
  private def wcc(g: PropertyGraph): DataFrame = Wcc.run(g).components
  private def pageRank(g: PropertyGraph): DataFrame =
    PageRank.run(g, PageRankConfig(maxIterations = 5)).scores

  test("a later call on the same graph writes no shuffle record for its edge input") {
    val g = saltedGraph(11L)
    // a repartition writes each of its rows once: the first LP call also
    // shuffles the inEdges (m rows) and vertexIds (n rows) projections
    val lpCold = shuffleRecords(lp(g).count())
    val lpWarm = shuffleRecords(lp(g).count())
    assert(lpCold - lpWarm == m + n, s"LP cold $lpCold, warm $lpWarm")
    // WCC reuses both and only builds outEdges
    val wccFirst = shuffleRecords(wcc(g).count())
    val wccAgain = shuffleRecords(wcc(g).count())
    assert(wccFirst - wccAgain == m, s"WCC first $wccFirst, again $wccAgain")
    // PageRank reads outEdges and vertexIds: all of its input is warm
    val prFirst = shuffleRecords(pageRank(g).count())
    val prAgain = shuffleRecords(pageRank(g).count())
    assert(prFirst == prAgain, s"PageRank first $prFirst, again $prAgain")
    g.unpersist()
  }

  test("after clearCache the next call rebuilds the projections, with identical results") {
    val g = saltedGraph(12L)
    val parts = GraphOps.adaptiveParts(spark, g.edges.count())
    def results = (collectMap(pageRank(g), "id", "score"),
      collectLongMap(wcc(g), "id", "componentId"), collectLongMap(lp(g), "id", "label"))
    val (pr1, wcc1, lp1) = results
    val held = Seq(g.outEdges(parts), g.inEdges(parts), g.vertexIds(parts))
    spark.catalog.clearCache()
    assert(held.forall(_.storageLevel == StorageLevel.NONE))
    val (pr2, wcc2, lp2) = results
    val rebuilt = Seq(g.outEdges(parts), g.inEdges(parts), g.vertexIds(parts))
    assert(held.zip(rebuilt).forall { case (a, b) => a ne b })
    assert(rebuilt.forall(_.storageLevel != StorageLevel.NONE))
    assert(pr1.keySet == pr2.keySet && pr1.forall { case (k, v) => math.abs(v - pr2(k)) <= 1e-12 })
    assert(wcc1 == wcc2)
    assert(lp1 == lp2)
    g.unpersist()
  }

  test("dropping a catalog graph frees its projections") {
    val g = saltedGraph(13L)
    val gds = graft.api.Gds(spark)
    val before = GraftTestAccess.cachedEntries(spark)
    gds.graph.create("projected", g.vertices, g.edges)
    val results = Seq(gds.pageRank.stream("projected"), gds.wcc.stream("projected"),
      gds.labelPropagation.stream("projected"))
    results.foreach(_.count())
    // three loop states plus the outEdges, inEdges and vertexIds projections
    assert(GraftTestAccess.cachedEntries(spark) == before + 6)
    results.foreach(_.unpersist())
    assert(gds.graph.drop("projected"))
    // each loop call still leaves its final state cached after the caller's
    // unpersist (ROADMAP Direction 1); nothing else is left
    assert(GraftTestAccess.cachedEntries(spark) == before + 3)
  }

  test("one graph at a time, at one width, keeps its projections cached") {
    val a = saltedGraph(20L)
    val b = saltedGraph(21L)
    val a2 = a.outEdges(2)
    val a3 = a.outEdges(3)
    // another width of the same graph frees the first
    assert(a2.storageLevel == StorageLevel.NONE && a3.storageLevel != StorageLevel.NONE)
    // another graph frees the whole set
    val b3 = b.outEdges(3)
    assert(a3.storageLevel == StorageLevel.NONE && b3.storageLevel != StorageLevel.NONE)
    // a copy shares b's edge plan: b's set is freed before the copy builds,
    // so the shared plan ends up cached, not dropped
    val c = b.copy(vertices = b.vertices.withColumn("x", lit(1)))
    val c3 = c.outEdges(3)
    assert(c3.storageLevel != StorageLevel.NONE)
    // a graph whose set was freed rebuilds it on its next read
    val a3again = a.outEdges(3)
    assert((a3again ne a3) && a3again.storageLevel != StorageLevel.NONE)
    assert(c3.storageLevel == StorageLevel.NONE)
    Seq(a, b, c).foreach(_.unpersist())
    assert(a3again.storageLevel == StorageLevel.NONE)
  }

  test("nearDupClusters leaves none of its graph's projections cached") {
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = spark.createDataFrame(Seq((1L, text), (2L, text), (3L, "other words entirely")))
      .toDF("doc_id", "text")
    val before = GraftTestAccess.cachedEntries(spark)
    val clusters = graft.ops.Dedup.nearDupClusters(docs, "doc_id", "text", threshold = 0.5)
    assert(collectLongMap(clusters, "id", "cluster") == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
    // WCC's final state stays cached (ROADMAP Direction 1); nothing else does
    assert(GraftTestAccess.cachedEntries(spark) == before + 1)
  }
}
