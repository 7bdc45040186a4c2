package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.algo._
import graft.core.{GraphOps, PropertyGraph}
import graft.io.{Fs, Pages, SnapshotStore, Warc}

object Workloads {
  def apply(name: String, b: Bench): Workload = name match {
    case "crawl-e2e"        => new CrawlE2E(b, pages = 10000)
    case "dense-supersteps" => new DenseSupersteps(b, pages = 15000)
    case "self-test"        => new FailingWorkload(b)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Order-insensitive digest of an edge table: (rows, Σ hash mod p). */
  def digest(edges: DataFrame): (Long, Long) = {
    val r = edges.agg(count(lit(1)),
      sum(pmod(xxhash64(col("src"), col("dst"), col("weight")), lit(2147483647L)))).first()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** WCC: both endpoints of every edge share a component, and each
    * component id is its smallest member id. */
  def checkWcc(r: Run, graph: PropertyGraph, res: WccResult, vertices: Long): Unit = {
    val c = res.components
    r.check("algo.wcc", "one component id per vertex")(c.count() == vertices)
    r.check("algo.wcc", "edge endpoints share a component")(
      graph.edges
        .join(c.select(col("id").as("src"), col("componentId").as("a")), "src")
        .join(c.select(col("id").as("dst"), col("componentId").as("b")), "dst")
        .filter(col("a") =!= col("b")).isEmpty)
    r.check("algo.wcc", "component id is the smallest member id")(
      c.groupBy("componentId").agg(min("id").as("m"))
        .filter(col("m") =!= col("componentId")).isEmpty)
  }

  def checkLp(r: Run, graph: PropertyGraph, res: LpResult, vertices: Long): Unit = {
    r.check("algo.lp", "one label per vertex")(res.labels.count() == vertices)
    r.check("algo.lp", "every label is a vertex id")(
      res.labels.select(col("label").as("v"))
        .join(graph.vertices.select(col("id").as("v")), Seq("v"), "left_anti").isEmpty)
  }

  def checkTriangles(r: Run, graph: PropertyGraph, res: TriangleCountResult, first: Boolean): Unit = {
    r.check("algo.triangle", "global = sum of local / 3") {
      val local = res.localTriangles.agg(sum("triangles")).first().getLong(0)
      local % 3 == 0 && local / 3 == res.globalTriangles
    }
    if (first)
      r.check("algo.triangle", "global = triangleStream count")(
        TriangleCount.triangleStream(graph).count() == res.globalTriangles)
  }
}

/** The north-rule pipeline as users run it: WARC read, text and link
  * extraction, PageRank checkpointed every iteration, stopped at 3 and
  * resumed to 6, WCC to fixpoint, 3 label-propagation iterations, triangle
  * count, and a result snapshot commit. */
final class CrawlE2E(b: Bench, pages: Long) extends Workload(b) {
  import Workloads._
  private val warcDir = b.dir("warc")
  private lazy val refDigest = digest(Pages.synthEdges(spark, pages, b.o.seed))

  private var pagesT: DataFrame = _
  private var graph: PropertyGraph = _
  private var nEdges = 0L
  private var pr: PageRankResult = _
  private var prR: PageRankResult = _
  private var wcc: WccResult = _
  private var lp: LpResult = _
  private var tc: TriangleCountResult = _
  private var resultDir = ""

  def setupInput(): Unit = {
    Fs.deleteRecursively(warcDir)
    Warc.write(Pages.synth(spark, pages, b.o.seed), warcDir)
  }

  private def ckptDir(r: Run) = b.dir(s"ckpt/${r.id}")

  def timed(r: Run): Unit = {
    val wm = Warc.readMetrics(spark)
    wm.reset()
    val ck = ckptDir(r)
    resultDir = b.dir(s"results/${r.id}")
    val ingested = r.stage("io.warc_read") {
      val df = Warc.read(spark, warcDir).persist()
      df.count()
      df
    }
    r.put("io.warc_records", wm.records.value.toDouble)
    r.put("io.warc_bad", (wm.garbledRecords.value + wm.corruptTailFiles.value).toDouble)
    r.stage("io.extract") {
      pagesT = ingested.select(xxhash64(col("url")).as("id"), col("url"),
        Pages.extractText(col("html").cast("string")).as("text")).persist()
      pagesT.count()
      val edges = Pages.toGraph(ingested).edges.persist()
      nEdges = edges.count()
      ingested.unpersist(false)
      graph = PropertyGraph(pagesT.select("id"), edges)
    }
    r.put("io.edges", nEdges.toDouble)

    pr = r.algo("pagerank", nEdges)(PageRank.run(graph,
      PageRankConfig(maxIterations = 3, checkpointDir = Some(ck))))(_.ranIterations, x => Seq(x.scores))
    prR = r.algo("pagerank_resume", nEdges)(PageRank.resume(graph,
      PageRankConfig(maxIterations = 6, checkpointDir = Some(ck))))(
      _.ranIterations - pr.ranIterations, x => Seq(x.scores))
    wcc = r.algo("wcc", nEdges)(Wcc.run(graph))(_.ranIterations, x => Seq(x.components))
    lp = r.algo("lp", nEdges)(LabelPropagation.run(graph, LpConfig(maxIterations = 3)))(
      _.ranIterations, x => Seq(x.labels))
    tc = r.algo("triangle", nEdges)(TriangleCount.run(graph))(_ => 1, x => Seq(x.localTriangles))

    val snap = r.stage("io.result_commit") {
      val results = pagesT.join(prR.scores, "id").join(wcc.components, "id")
        .join(lp.labels, "id").join(tc.localTriangles, "id")
      SnapshotStore.commit(results, resultDir, Map("run" -> r.id))
    }
    val ckpts = SnapshotStore.snapshots(ck)
    r.put("io.checkpoints", ckpts.size.toDouble)
    r.put("io.checkpoint_mb", ckpts.map(_.meta("totalBytes").toDouble).sum / 1e6)
    r.put("io.result_mb", snap.meta("totalBytes").toDouble / 1e6)
  }

  def check(r: Run, first: Boolean): Unit = {
    r.check("io.warc_read", "records read = pages written, none bad")(
      r.values("io.warc_records") == pages && r.values("io.warc_bad") == 0)
    r.check("io.extract", "edge digest = synthEdges digest")(digest(graph.edges) == refDigest)
    r.check("algo.pagerank", "one score per page")(pr.scores.count() == pages)
    if (first)
      r.check("algo.pagerank_resume", "resumed = uninterrupted 6 iterations within 1e-9") {
        // one fused job: the same supersteps, without checkpoints or stops
        val ref = PageRank.run(graph, PageRankConfig(maxIterations = 6, fusedSteps = 5)).scores
        val worst = ref.withColumnRenamed("score", "a").join(prR.scores, Seq("id"), "full_outer")
          .agg(max(coalesce(abs(col("a") - col("score")), lit(Double.PositiveInfinity)))).first()
        !worst.isNullAt(0) && worst.getDouble(0) <= 1e-9
      }
    checkWcc(r, graph, wcc, pages)
    checkLp(r, graph, lp, pages)
    checkTriangles(r, graph, tc, first)
    r.check("io.result_commit", "one result row per page")(
      SnapshotStore.read(spark, resultDir).count() == pages)
  }

  override def cleanup(r: Run): Unit = {
    if (pagesT != null) pagesT.unpersist(false)
    if (graph != null) graph.edges.unpersist(false)
    Fs.deleteRecursively(ckptDir(r))
    Fs.deleteRecursively(resultDir)
  }
}

/** Per-edge superstep throughput on a dense graph held in memory: fused
  * PageRank, fixed-step WCC and label propagation, no checkpoints. */
final class DenseSupersteps(b: Bench, pages: Long) extends Workload(b) {
  import Workloads._
  private var graph: PropertyGraph = _
  private var nEdges = 0L
  private var nVertices = 0L
  private var pr: PageRankResult = _
  private var wcc: WccResult = _
  private var lp: LpResult = _

  /** The input graph is kept as local checkpoints (block-manager RDDs, not
    * cache entries), so the cache can be emptied between passes without
    * losing it. */
  def setupInput(): Unit = {
    spark.sparkContext.getPersistentRDDs.foreach(_._2.unpersist(blocking = true))
    val e = Pages.synthEdges(spark, pages, b.o.seed, density = 8.0).localCheckpoint(true)
    val v = GraphOps.verticesOf(e).localCheckpoint(true)
    b.inputRdds = b.persistedRdds
    graph = PropertyGraph(v, e)
    nEdges = e.count()
    nVertices = v.count()
  }

  def timed(r: Run): Unit = {
    r.put("io.edges", nEdges.toDouble)
    pr = r.algo("pagerank", nEdges)(PageRank.run(graph,
      PageRankConfig(maxIterations = 8, tolerance = 0.0, fusedSteps = 8)))(
      _.ranIterations, x => Seq(x.scores))
    wcc = r.algo("wcc", nEdges)(Wcc.run(graph,
      WccConfig(maxSteps = 8, localSolveThreshold = -1, fusedSteps = 8)))(
      _.ranIterations, x => Seq(x.components))
    lp = r.algo("lp", nEdges)(LabelPropagation.run(graph, LpConfig(maxIterations = 5)))(
      _.ranIterations, x => Seq(x.labels))
  }

  def check(r: Run, first: Boolean): Unit = {
    r.check("algo.pagerank", "one score per vertex")(pr.scores.count() == nVertices)
    checkWcc(r, graph, wcc, nVertices)
    checkLp(r, graph, lp, nVertices)
  }
}
