package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftTestAccess}
import org.apache.spark.sql.functions._
import graft.algo.{PageRank, PageRankConfig, Wcc, WccConfig}
import graft.io.SnapshotStore
import graft.pregel.{LoopConfig, SuperstepLoop}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Checkpoint/resume: the north rule requires per-iteration durable
  * checkpoints with convergence metrics, and resume producing the identical
  * final result (FIXTURES.md §C "kill-after-iteration-k"). */
class CheckpointSpec extends AnyFunSuite with SparkTestBase {

  val edges: Seq[(Long, Long)] = Seq(
    1L -> 2L, 2L -> 1L, 3L -> 0L, 3L -> 1L, 4L -> 1L, 4L -> 3L, 4L -> 5L,
    5L -> 1L, 5L -> 4L, 6L -> 1L, 6L -> 4L, 7L -> 1L, 7L -> 4L, 8L -> 1L,
    8L -> 4L, 9L -> 4L, 10L -> 4L)
  lazy val graph = graphOf(11, edges)

  private def tempDir(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` runs. */
  private def jobsIn(body: => Unit): Int = {
    GraftTestAccess.drainListeners(spark)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; GraftTestAccess.drainListeners(spark) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  /** Longest dependency chain under `rdd` (shared ancestors counted once). */
  private def lineageDepth(rdd: RDD[_]): Int = {
    val memo = scala.collection.mutable.Map.empty[Int, Int]
    def depth(r: RDD[_]): Int = memo.getOrElseUpdate(r.id,
      1 + r.dependencies.map(d => depth(d.rdd)).maxOption.getOrElse(0))
    depth(rdd)
  }

  test("interrupted pagerank resumes to the identical final state") {
    val dir = Files.createTempDirectory("graft-ck-pr").toString
    // full uninterrupted run, no checkpointing
    val full = collectMap(PageRank.run(graph,
      PageRankConfig(tolerance = 0.0, maxIterations = 20)).scores, "id", "score")
    // "crash" after 7 supersteps (checkpoint every iteration)
    PageRank.run(graph, PageRankConfig(tolerance = 0.0, maxIterations = 7,
      checkpointDir = Some(dir)))
    assert(SnapshotStore.snapshots(dir).nonEmpty)
    val preIter = SnapshotStore.latest(dir).get.meta("iteration").toInt
    assert(preIter == 6, s"7 supersteps = init + 6 steps, got $preIter")
    // resume with the full budget
    val resumed = PageRank.resume(graph, PageRankConfig(tolerance = 0.0,
      maxIterations = 20, checkpointDir = Some(dir)))
    assert(collectMap(resumed.scores, "id", "score") == full)
    // snapshots carry convergence metrics
    val last = SnapshotStore.latest(dir).get
    assert(last.meta.contains("activeCount") && last.meta.contains("partitions"))
    assert(last.meta("iteration").toInt == 19)
    // ... and per-partition file lineage: every data file with its size
    val files = last.meta("files").split(";").toSeq
    assert(files.size == last.meta("numFiles").toInt && files.nonEmpty)
    assert(files.forall(_.matches("part-.*:\\d+")))
    assert(files.map(_.split(':').last.toLong).sum == last.meta("totalBytes").toLong)
  }

  test("checkpoint interval > 1 still resumes correctly") {
    val dir = Files.createTempDirectory("graft-ck-wcc").toString
    val full = collectLongMap(Wcc.run(graph).components, "id", "componentId")
    Wcc.run(graph, WccConfig(maxSteps = 2, checkpointDir = Some(dir), checkpointInterval = 2))
    val r = Wcc.run(graph, WccConfig(maxSteps = 100, checkpointDir = Some(dir),
      checkpointInterval = 2))
    // fresh run ignores old snapshots; resumed-from state equals full run
    assert(collectLongMap(r.components, "id", "componentId") == full)
  }

  test("a checkpointed PageRank superstep is one job") {
    def jobs(iterations: Int): Int = {
      val dir = tempDir("graft-ck-jobs")
      val n = jobsIn(PageRank.run(graph, PageRankConfig(tolerance = 0.0,
        maxIterations = iterations, checkpointDir = Some(dir))))
      assert(SnapshotStore.latest(dir).get.meta("iteration").toInt == iterations - 1)
      n
    }
    val (four, eight) = (jobs(4), jobs(8))
    assert(eight - four == 4, s"4 more checkpointed supersteps ran ${eight - four} more jobs")
    assert(eight <= 8 + 2, s"a checkpointed 8-iteration PageRank ran $eight jobs")
  }

  test("checkpointing every iteration keeps lineage bounded and scores unchanged") {
    val dir = tempDir("graft-ck-depth")
    val plain = PageRank.run(graph, PageRankConfig(tolerance = 0.0, maxIterations = 20))
    val ck = PageRank.run(graph, PageRankConfig(tolerance = 0.0, maxIterations = 20,
      checkpointDir = Some(dir), checkpointInterval = 1))
    assert(collectMap(ck.scores, "id", "score") == collectMap(plain.scores, "id", "score"))
    assert(SnapshotStore.snapshots(dir).size == 19)
    // the loop never chains more than truncateInterval (8) supersteps
    // between lineage cuts; a 9-iteration run is the longest uncut chain
    val uncut = PageRank.run(graph, PageRankConfig(tolerance = 0.0, maxIterations = 9))
    val ckDepth = lineageDepth(ck.scores.queryExecution.toRdd)
    val uncutDepth = lineageDepth(uncut.scores.queryExecution.toRdd)
    assert(ckDepth < uncutDepth,
      s"lineage depth $ckDepth after 19 checkpointed supersteps, $uncutDepth after 8 uncut ones")
  }

  test("a run converging between checkpoint intervals commits its final state") {
    val dir = tempDir("graft-ck-conv")
    val init = spark.range(6).select(col("id"), lit(0L).as("v"),
      lit(true).as(SuperstepLoop.ActiveCol))
    // odd ids halt at iteration 3, even ids at 4: a checkpoint at 3 with
    // 3 active rows, convergence at 4, between intervals
    val cfg = LoopConfig(maxSteps = 10, checkpointDir = Some(dir), checkpointInterval = 3)
    def step(state: DataFrame, iter: Int): DataFrame = state.select(col("id"),
      (col("v") + 1).as("v"), (col("v") + 1 + col("id") % 2 < 4).as(SuperstepLoop.ActiveCol))
    val run = SuperstepLoop.run(init, cfg)(step)
    assert(run.didConverge && run.ranIterations == 4)
    val snaps = SnapshotStore.snapshots(dir)
    assert(snaps.map(s => s.meta("iteration") -> s.meta("activeCount")) ==
      Seq("3" -> "3", "4" -> "0"))
    val resumed = SuperstepLoop.resume(spark, init, cfg)(step)
    assert(resumed.didConverge && resumed.ranIterations == 4)
    def rows(df: DataFrame) = df.orderBy("id").collect().toSeq
    assert(rows(resumed.state) == rows(run.state))
  }

  test("snapshot store: atomic versioned commits and latest-read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap").toString
    SnapshotStore.commit(Seq((1L, "a")).toDF("id", "v"), dir, Map("k" -> "v0"))
    SnapshotStore.commit(Seq((2L, "b"), (3L, "c")).toDF("id", "v"), dir, Map("k" -> "v1"))
    val snaps = SnapshotStore.snapshots(dir)
    assert(snaps.map(_.version) == Seq(0L, 1L))
    assert(SnapshotStore.read(spark, dir).count() == 2)
    assert(SnapshotStore.readVersion(spark, dir, 0).count() == 1)
    assert(SnapshotStore.latest(dir).get.meta("k") == "v1")
    // a torn manifest write is invisible: only atomic renames become snapshots
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_snapshots", ".v9.json.tmp"), "{\"version\":9")
    assert(SnapshotStore.snapshots(dir).size == 2)
  }

  test("snapshot expiration keeps the newest keepLast, deletes orphaned data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap-exp").toString
    (0 until 5).foreach(i =>
      SnapshotStore.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"), dir,
        Map("iteration" -> i.toString)))
    val expired = SnapshotStore.expire(dir, keepLast = 2)
    assert(expired == Seq(0L, 1L, 2L))
    assert(SnapshotStore.snapshots(dir).map(_.version) == Seq(3L, 4L))
    assert(SnapshotStore.latest(dir).get.meta("iteration") == "4")
    assert(SnapshotStore.read(spark, dir).count() == 1)
    // expired data dirs are gone, surviving ones intact
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "data", "v0")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "data", "v3")))
    // keepLast larger than history is a no-op
    assert(SnapshotStore.expire(dir, keepLast = 10).isEmpty)
  }

  test("checkpointed loop with keepLast retention still resumes identically") {
    import graft.pregel.Pregel
    val dir = Files.createTempDirectory("graft-ck-keep").toString
    def wccVia(maxIter: Int) = Pregel(graph)
      .withVertexColumn("label", init = col("id"),
        afterMsg = when(Pregel.msg < col("label"), Pregel.msg).otherwise(col("label")))
      .sendMsgToDst(Pregel.src("label"))
      .sendMsgToSrc(Pregel.dst("label"))
      .aggMsgs(min(Pregel.msg))
      .setMaxIterations(maxIter)
      .setCheckpointDir(dir, keepLast = 2)
      .run()
    val got = wccVia(20).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = collectLongMap(Wcc.run(graph).components, "id", "componentId")
    assert(got == plain, s"got $got")
    // retention held: at most 2 snapshots on disk, and the latest is intact
    val snaps = SnapshotStore.snapshots(dir)
    assert(snaps.size <= 2 && snaps.nonEmpty, s"snapshots ${snaps.map(_.version)}")
    assert(SnapshotStore.read(spark, dir).count() == 11)
  }
}
