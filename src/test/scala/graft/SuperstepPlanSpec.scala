package graft

import org.apache.spark.sql.{DataFrame, GraftSqlCompat, GraftTestAccess}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LeafExecNode, SortExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.algo.{Eigenvector, Hits, HitsConfig, LabelPropagation, LpConfig, PageRank,
  PageRankConfig, Paths, Schedule, Sllpa, Wcc}
import graft.core.{GraphOps, Orientation, PropertyGraph}
import graft.io.SnapshotStore
import graft.pregel.{LoopConfig, Pregel, SuperstepLoop}

/** Physical shape of superstep 1 of PageRank, WCC, LP, the
  * [[SuperstepLoop.relax]] kernel and the other users of the
  * [[SuperstepLoop.gather]] kernel (Eigenvector, HITS, Pregel, the SLPA
  * speaker), built the way `run` builds it: the edge inputs and the initial state come from the
  * algorithms' own builders, set up with adaptive execution ON (a default
  * session) and never warmed by an action, and the state is persisted and
  * plan-truncated under the loop's conf, as the loop hands it to a step.
  * A checkpointed run is checked at superstep 2, over the state the loop
  * hands on right after committing a snapshot.
  * Each superstep must hash its joins (no sort-merge join re-sorting the
  * edge table every superstep) and shuffle exactly once: the persisted edge
  * table and the state must both report their partitioning from the first
  * plan, or superstep 1 re-shuffles them. */
class SuperstepPlanSpec extends AnyFunSuite with SparkTestBase {

  private val parts = 3

  private val edgeList: Seq[(Long, Long)] = Seq(
    0L -> 1L, 1L -> 2L, 2L -> 0L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 3L, 6L -> 0L)

  private def edges: DataFrame = {
    import spark.implicits._
    edgeList.toDF("src", "dst")
  }

  private def vertices: DataFrame = spark.range(7).toDF("id")

  /** Runs `setup` with adaptive execution on; the suite's session has it
    * off, which would hide an adaptive cached plan. */
  private def adaptive[A](setup: => A): A =
    SuperstepLoop.withConf(spark, Seq("spark.sql.adaptive.enabled" -> "true"))(setup)

  /** (persisted handle, plan-truncated view) of `init`, as the loop holds it
    * before superstep 1. */
  private def loopState(init: DataFrame): (DataFrame, DataFrame) =
    inLoop {
      val cached = init.persist()
      (cached, GraftSqlCompat.truncatePlan(cached))
    }

  private def plannedStep(step: => DataFrame): SparkPlan =
    inLoop(step.queryExecution.executedPlan)

  /** The loop's conf at the width the inputs were partitioned to. */
  private def inLoop[A](body: => A): A =
    GraphOps.withShuffleWidth(spark, parts)(SuperstepLoop.withIterationConf(spark)(body))

  private def assertIdPartitioned(name: String, state: DataFrame): Unit =
    state.queryExecution.executedPlan.outputPartitioning match {
      case HashPartitioning(Seq(a: Attribute), n) if a.name == "id" && n == parts =>
      case other => fail(s"$name initial state reports $other, expected hashpartitioning(id, $parts)")
    }

  private def assertShape(name: String, plan: SparkPlan): Unit = {
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(smj.isEmpty, s"$name superstep sorts for a join:\n$plan")
    assert(exchanges.size == 1,
      s"$name superstep has ${exchanges.size} exchanges, expected 1:\n$plan")
  }

  /** A kernel user's superstep: nothing sorts, and no input (the persisted
    * edge table or the plan-truncated state) is shuffled on its way into a
    * join; the aggregate's exchange sits above the joins. */
  private def assertKernelShape(name: String, plan: SparkPlan): Unit = {
    def reachesInput(p: SparkPlan): Boolean = p match {
      case _: LeafExecNode => true
      case _: BaseJoinExec => false
      case other           => other.children.exists(reachesInput)
    }
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
      s"$name superstep sorts for a join:\n$plan")
    assert(plan.collect { case so: SortExec => so }.isEmpty, s"$name superstep sorts:\n$plan")
    assert(plan.collect { case e: ShuffleExchangeExec if reachesInput(e.child) => e }.isEmpty,
      s"$name superstep shuffles an input before a join:\n$plan")
  }

  private def pageRankEdges: DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
    val norm = edges.join(deg, "src")
      .select(col("src"), col("dst"), (lit(1.0) / col("deg")).as("norm"))
    PageRank.augmentedEdges(norm, vertices, parts)
  }

  test("PageRank superstep: hash join on the state, one exchange") {
    val augEdges = adaptive(pageRankEdges)
    // the carrier rows of the src-partitioned edge table already are the
    // id-partitioned vertex set: building the state shuffles nothing
    val initPlan = plannedStep(PageRank.initState(augEdges, PageRankConfig()))
    assert(initPlan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      s"PageRank initial state shuffles:\n$initPlan")
    val (cached, state) = adaptive(loopState(PageRank.initState(augEdges, PageRankConfig())))
    assertIdPartitioned("PageRank", state)
    assertShape("PageRank", plannedStep(
      PageRank.step(augEdges, None, PageRankConfig(), 1.0)(state, 1)))
    augEdges.unpersist(false); cached.unpersist(false)
  }

  test("PageRank superstep after a checkpoint commit: one exchange") {
    // the loop itself hands superstep 2 the state it committed at
    // iteration 1; that state must still be id-partitioned
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ck").toString
    val augEdges = adaptive(pageRankEdges)
    val cfg = PageRankConfig()
    var afterCommit: Option[SparkPlan] = None
    GraphOps.withShuffleWidth(spark, parts) {
      SuperstepLoop.run(PageRank.initState(augEdges, cfg),
        LoopConfig(maxSteps = 2, checkpointDir = Some(dir))) { (state, iter) =>
          val next = PageRank.step(augEdges, None, cfg, 1.0)(state, iter)
          if (iter == 2) afterCommit = Some(next.queryExecution.executedPlan)
          next
      }
    }
    assert(SnapshotStore.snapshots(dir).map(_.meta("iteration")) == Seq("1", "2"))
    assertShape("checkpointed PageRank", afterCommit.getOrElse(fail("superstep 2 never ran")))
    augEdges.unpersist(false)
  }

  test("WCC superstep: hash joins on the frontier and the minimum, one exchange") {
    val (undirected, (cached, state)) = adaptive {
      (Wcc.undirectedEdges(edges, parts), loopState(Wcc.initState(vertices, None, parts)))
    }
    assertIdPartitioned("WCC", state)
    assertShape("WCC", plannedStep(Wcc.step(undirected)(state)))
    undirected.unpersist(false); cached.unpersist(false)
  }

  test("LP superstep: hash joins on the labels and the votes, one exchange") {
    val (votes, (cached, state)) = adaptive {
      (LabelPropagation.voteEdges(edges.withColumn("weight", lit(1.0)), parts),
       loopState(LabelPropagation.initState(vertices, LpConfig(), parts)))
    }
    assertIdPartitioned("LP", state)
    for (schedule <- Seq(Schedule.Sync, Schedule.FullSync))
      assertShape(s"LP $schedule", plannedStep(
        LabelPropagation.syncStep(votes, schedule, parts)(state, 1)))
    votes.unpersist(false); cached.unpersist(false)
  }

  test("relax min superstep (SSSP shape): hash joins, one exchange") {
    val graph = PropertyGraph(vertices, edges.withColumn("weight", col("src") * 0.5 + 1.0))
    val (weighted, (cached, state)) = adaptive {
      (Paths.weightedEdges(graph, Orientation.Natural, parts),
       loopState(Paths.sourceState(vertices, 0L, 0.0, Double.PositiveInfinity, parts)))
    }
    assertIdPartitioned("SSSP", state)
    assertShape("relax min", plannedStep(
      SuperstepLoop.relax(state, weighted, "dist", col("dist") + col("weight"), min = true)))
    weighted.unpersist(false); cached.unpersist(false)
  }

  test("relax max superstep along reversed edges (SCC-reach shape): hash joins, one exchange") {
    val (colored, (cached, state)) = adaptive {
      (SuperstepLoop.persistInput(edges.withColumn("color", lit(5L)), parts, "dst"),
       loopState(vertices
         .select(col("id"), lit(5L).as("color"), (col("id") === 5L).as("reached"),
           (col("id") === 5L).as(SuperstepLoop.ActiveCol))
         .repartition(parts, col("id"))))
    }
    assertIdPartitioned("SCC reach", state)
    assertShape("relax max", plannedStep(SuperstepLoop.relax(state, colored, "reached",
      lit(true), min = false, from = "dst", to = "src")))
    colored.unpersist(false); cached.unpersist(false)
  }

  test("persistInput dedups on its own exchange and restores adaptive execution") {
    adaptive {
      val dup = edges.unionByName(edges)
      val input = SuperstepLoop.persistInput(dup, parts, "src", distinct = true)
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val plan = input.queryExecution.executedPlan
      assert(plan.outputPartitioning match {
        case HashPartitioning(Seq(a: Attribute), n) => a.name == "src" && n == parts
        case _ => false
      }, s"persisted input reports ${plan.outputPartitioning}")
      val cachedPlan = plan.collectFirst { case s: InMemoryTableScanExec => s.relation.cachedPlan }
        .getOrElse(fail(s"no cache scan in\n$plan"))
      val exchanges = cachedPlan.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1, s"dedup adds an exchange:\n$cachedPlan")
      assert(input.count() == edgeList.size)
      input.unpersist(false)
    }
  }

  test("Eigenvector superstep: kernel gather, no sort, edges not shuffled") {
    val (msgEdges, (cached, state)) = adaptive {
      (SuperstepLoop.persistInput(edges.withColumn("norm", lit(1.0)), parts, "src"),
       loopState(vertices.repartition(parts, col("id"))
         .select(col("id"), lit(0.5).as("rank"), lit(1.0).as("next"),
           lit(true).as(SuperstepLoop.ActiveCol))))
    }
    assertIdPartitioned("Eigenvector", state)
    assertKernelShape("Eigenvector", plannedStep(Eigenvector.step(msgEdges, 0.0)(state)))
    msgEdges.unpersist(false); cached.unpersist(false)
  }

  test("HITS half-steps: kernel gathers along src and dst, no sort, edges not shuffled") {
    val (bySrc, byDst, (cached, state)) = adaptive {
      (SuperstepLoop.persistInput(edges, parts, "src"),
       SuperstepLoop.persistInput(edges, parts, "dst"),
       loopState(vertices.repartition(parts, col("id"))
         .select(col("id"), lit(1.0).as("hub"), lit(1.0).as("auth"),
           lit(true).as(SuperstepLoop.ActiveCol))))
    }
    assertIdPartitioned("HITS", state)
    assertKernelShape("HITS auth", plannedStep(Hits.authStep(bySrc)(state)))
    assertKernelShape("HITS hub", plannedStep(Hits.hubStep(byDst)(state)))
    bySrc.unpersist(false); byDst.unpersist(false); cached.unpersist(false)
  }

  /** Superstep 1 of `pregel`, over its own edge tables and initial state. */
  private def assertPregelStep(name: String, pregel: Pregel): Unit = {
    val ((bySrc, byDst), (cached, state)) =
      adaptive((pregel.edgeTables(parts), loopState(pregel.initState(parts))))
    assertIdPartitioned(name, state)
    assertKernelShape(name, plannedStep(pregel.step(bySrc, byDst)(state)))
    (bySrc ++ byDst).foreach(_.unpersist(false)); cached.unpersist(false)
  }

  test("Pregel sender-only superstep (sendMsgToDst): kernel scatter, no sort, edges not shuffled") {
    val graph = PropertyGraph(vertices, edges.withColumn("weight", lit(2.0)))
    assertPregelStep("Pregel SSSP", Pregel(graph)
      .withVertexColumn("dist", init = when(col("id") === 0L, 0.0),
        afterMsg = least(coalesce(col("dist"), Pregel.msg), Pregel.msg))
      .sendMsgToDst(Pregel.src("dist") + Pregel.edge("weight"))
      .aggMsgs(min(Pregel.msg)))
  }

  test("Pregel sendMsgToSrc superstep: edges persisted by dst, no sort, not shuffled") {
    assertPregelStep("Pregel to src", Pregel(PropertyGraph(vertices, edges))
      .withVertexColumn("label", init = col("id"), afterMsg = least(col("label"), Pregel.msg))
      .sendMsgToSrc(Pregel.dst("label"))
      .aggMsgs(min(Pregel.msg)))
  }

  test("SLPA speaker: kernel scatter, no sort, edges not shuffled") {
    val (symmetric, (cached, state)) = adaptive {
      (SuperstepLoop.persistInput(edges.unionByName(edges.select(col("dst").as("src"),
         col("src").as("dst"))), parts, "src", distinct = true),
       loopState(vertices
         .select(col("id"), array(col("id")).as("memory"), lit(true).as(SuperstepLoop.ActiveCol))
         .repartition(parts, col("id"))))
    }
    assertIdPartitioned("SLPA", state)
    assertKernelShape("SLPA speaker", plannedStep(Sllpa.speak(symmetric, 42L)(state, 1)))
    symmetric.unpersist(false); cached.unpersist(false)
  }

  test("Pregel, HITS and Eigenvector unpersist every edge table they persist") {
    // the loop's final state stays cached for the caller: one entry per call
    val graph = PropertyGraph(vertices, edges)
    def newEntries(run: => DataFrame): Int = {
      val before = GraftTestAccess.cachedEntries(spark)
      run.count()
      GraftTestAccess.cachedEntries(spark) - before
    }
    assert(newEntries(Pregel(graph)
      .withVertexColumn("label", init = col("id"), afterMsg = least(col("label"), Pregel.msg))
      .sendMsgToDst(Pregel.src("label")).sendMsgToSrc(Pregel.dst("label"))
      .aggMsgs(min(Pregel.msg)).setMaxIterations(3).run()) == 1)
    assert(newEntries(Hits.run(graph, HitsConfig(maxIterations = 2))) == 1)
    assert(newEntries(Eigenvector.run(graph,
      PageRankConfig(maxIterations = 3, tolerance = 0.0)).scores) == 1)
  }
}
