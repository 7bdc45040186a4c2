package graft.pregel

import org.apache.spark.sql.{DataFrame, GraftSqlCompat, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.io.SnapshotStore

/** Configuration for the iterative superstep driver.
  *
  * @param maxSteps           maximum number of `step` invocations after the
  *                           initial state (PageRank with GDS `maxIterations`
  *                           = K runs K supersteps total: the initial send
  *                           superstep plus K-1 steps here).
  * @param checkpointDir      when set, every `checkpointInterval` iterations
  *                           the state is committed as a durable snapshot
  *                           (Iceberg-style, see [[graft.io.SnapshotStore]])
  *                           with convergence metrics in the manifest; a run
  *                           can resume from the latest committed snapshot.
  * @param checkpointInterval snapshot cadence (1 = every iteration, the
  *                           north-rule default).
  * @param truncateInterval   RDD-lineage cut cadence via localCheckpoint when
  *                           no durable checkpointing is active. (The LOGICAL
  *                           plan is already truncated every iteration at
  *                           zero cost — see [[GraftSqlCompat.truncatePlan]]
  *                           — but task closures serialize the physical RDD
  *                           chain, which must be cut periodically too.)
  * @param disableAqeInLoop   adaptive execution re-plans every tiny superstep
  *                           stage and multiplies fixed per-iteration latency
  *                           ~5x (measured); the loop turns AQE off for its
  *                           own jobs and restores the previous setting after.
  *                           Skew inside a superstep is handled by the hub
  *                           split / salting of the edge tables instead.
  * @param fusedSteps         how many supersteps to chain LAZILY between
  *                           driver actions. 1 (default) = classic behavior:
  *                           one job per superstep, convergence checked after
  *                           each. >1 = the driver builds `fusedSteps`
  *                           supersteps as one logical chain (plan-truncated
  *                           between, so planning stays O(1) per step) and
  *                           runs ONE job for the whole batch; convergence is
  *                           only observed at batch boundaries. Requires the
  *                           step function to be fixpoint-stable (running
  *                           extra supersteps after convergence must not
  *                           change the state — true for PageRank/BFS/SSSP/
  *                           WCC/LP), and the step's final operator should
  *                           sit directly on its aggregation shuffle so the
  *                           next step's double-reference re-reads shuffle
  *                           files instead of recomputing. This removes the
  *                           per-superstep driver round-trip — the fixed cost
  *                           that capped scaling efficiency at small
  *                           per-superstep compute.
  * @param shuffleWidth       when set, `spark.sql.shuffle.partitions` is
  *                           scoped to this for the loop's jobs (algorithms
  *                           pass GraphOps.adaptiveParts so superstep
  *                           shuffles are sized to the graph, not the
  *                           session default). Must equal the width the
  *                           algorithm used for its explicit edge/state
  *                           repartitions, or the co-partitioned joins gain
  *                           exchanges back.
  */
final case class LoopConfig(
  maxSteps: Int,
  checkpointDir: Option[String] = None,
  checkpointInterval: Int = 1,
  truncateInterval: Int = 8,
  disableAqeInLoop: Boolean = true,
  storageLevel: StorageLevel = StorageLevel.MEMORY_AND_DISK,
  fusedSteps: Int = 1,
  shuffleWidth: Option[Int] = None,
  /** when > 0, expire all but this many snapshots after each checkpoint
    * commit (SnapshotStore.expire) so a long run's disk stays O(keepLast),
    * not O(iterations); 0 keeps every snapshot (full history, the
    * resume-from-any-version mode). */
  checkpointKeepLast: Int = 0)

final case class IterationMetrics(iteration: Int, activeCount: Long, wallMs: Long)

final case class LoopResult(
  state: DataFrame,
  ranIterations: Int,
  didConverge: Boolean,
  history: Seq[IterationMetrics])

/** Superstep driver: the Spark-native equivalent of the reference's Pregel
  * run loop (reference: pregel/src/main/java/org/neo4j/gds/beta/pregel/
  * Pregel.java:158-187 and PartitionedComputer.java:77-82).
  *
  * State is a DataFrame carrying a boolean `_active` column; a superstep is
  * one `step(state, i)` call (typically: filter active → join edges → shuffle
  * agg → join back). Convergence = no active rows, mirroring the reference's
  * "no messages sent AND all voted to halt". The driver owns persistence,
  * per-iteration logical-plan truncation, periodic RDD-lineage cuts, durable
  * per-iteration checkpoints and resume — the pieces the single-JVM
  * reference never needed (SURVEY.md §2.7).
  *
  * Each materialized batch costs exactly ONE driver action: the state is
  * persisted and the active count is folded into the same job as a tiny
  * aggregate over the cached rows (round 1 ran persist-then-count —
  * two driver-synchronized jobs per superstep, which dominated superstep
  * latency at benchmark scale).
  *
  * Shuffle discipline: the driver never repartitions state; each step is
  * expected to produce state hash-partitioned by id (the natural output of
  * its groupBy), so the next step's join against edges pre-partitioned on src
  * reuses partitioning instead of adding exchanges.
  */
object SuperstepLoop {

  val ActiveCol = "_active"

  private val Verbose = sys.env.get("GRAFT_LOOP_VERBOSE").contains("1")

  def run(init: DataFrame, cfg: LoopConfig)
         (step: (DataFrame, Int) => DataFrame): LoopResult =
    withLoopConf(init.sparkSession, cfg) {
      loop(init.sparkSession, init, 0, Seq.empty, cfg)(step)
    }

  /** Resume from the latest durable snapshot under `cfg.checkpointDir`.
    * Falls back to `init` (fresh run) when no snapshot exists. The final
    * state is identical to an uninterrupted run: supersteps are pure
    * functions of the previous state, and snapshot commits are atomic. */
  def resume(spark: SparkSession, init: => DataFrame, cfg: LoopConfig)
            (step: (DataFrame, Int) => DataFrame): LoopResult = {
    val dir = cfg.checkpointDir.getOrElse(
      throw new IllegalArgumentException("resume requires checkpointDir"))
    SnapshotStore.latest(dir) match {
      case None => run(init, cfg)(step)
      case Some(snap) =>
        val iter   = snap.meta("iteration").toInt
        val active = snap.meta("activeCount").toLong
        val state  = spark.read.parquet(snap.dataPath)
        if (active == 0L || iter >= cfg.maxSteps)
          LoopResult(state, iter, active == 0L, Seq.empty)
        else withLoopConf(spark, cfg) {
          loop(spark, state, iter, Seq.empty, cfg)(step)
        }
    }
  }

  /** Loop-scoped session conf (restored afterwards):
    *  - AQE off: per-stage re-planning multiplies fixed superstep latency
    *  - broadcast joins off: Catalyst would otherwise broadcast the V-row
    *    state through the driver EVERY superstep (a serial bottleneck that
    *    destroys scaling); the loop's joins are co-partitioned by design —
    *    state is hash-partitioned by id from its groupBy, edges are
    *    pre-partitioned by src — so the exchange-free path is strictly better.
    *    (Explicit `broadcast()` hints — the hub-frontier and L2-scalar
    *    broadcasts — still apply; only automatic selection is off.)
    *  - a threshold of -1 also stops Spark choosing a shuffled hash join by
    *    size (it needs size < threshold × shuffle partitions), so every
    *    unhinted join is a sort-merge join. Step bodies that must not sort
    *    the edge table every superstep hint `shuffle_hash` on their V-row
    *    side (PageRank.step, Wcc.step, LabelPropagation.syncStep).
    */
  private def withLoopConf[A](spark: SparkSession, cfg: LoopConfig)(body: => A): A =
    withIterationConf(spark, disable = cfg.disableAqeInLoop,
      width = cfg.shuffleWidth)(body)

  /** Same conf scoping for iterative algorithms that drive their own loop
    * (MsBfs, MaxKCut): AQE + auto-broadcast off for the loop's jobs (joins
    * that should hash instead of sort carry a `shuffle_hash` hint), previous
    * settings restored after. `width` additionally scopes
    * `spark.sql.shuffle.partitions` (see GraphOps.adaptiveParts) —
    * physical planning happens at each materialize, i.e. inside this scope,
    * so every groupBy/join shuffle in the loop gets the data-sized width. */
  private[graft] def withIterationConf[A](spark: SparkSession,
                                          disable: Boolean = true,
                                          width: Option[Int] = None)(body: => A): A = {
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold", "spark.sql.shuffle.partitions")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    if (disable) {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "-1")
    }
    width.foreach(w => spark.conf.set(keys(2), w.toString))
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Materialize `df` (persist) and return its active count — ONE action:
    * the aggregate populates the cache and folds the count in the same job. */
  private def materialize(df: DataFrame, cfg: LoopConfig): (DataFrame, Long) = {
    val cached = df.persist(cfg.storageLevel)
    val row: Row = cached.agg(
      count(when(col(ActiveCol), lit(1))).as("active")).collect()(0)
    (cached, row.getLong(0))
  }

  private def loop(spark: SparkSession, init: DataFrame, startIter: Int,
                   history0: Seq[IterationMetrics], cfg: LoopConfig)
                  (step: (DataFrame, Int) => DataFrame): LoopResult = {
    // `cached` is the handle holding storage; `state` is the plan-truncated
    // view handed to the next superstep.
    var (cached, active) = materialize(init, cfg)
    var state   = GraftSqlCompat.truncatePlan(cached)
    var history = history0
    var iter    = startIter
    var lastCut = startIter
    var converged = active == 0L

    while (!converged && iter < cfg.maxSteps) {
      val t0 = System.nanoTime()
      // Build up to fusedSteps supersteps lazily: each chained step is
      // plan-truncated (LogicalRDD over toRdd — carries partitioning, costs
      // no action) so Catalyst plans each superstep once, and the whole
      // batch executes as a single multi-stage job at materialize below.
      var chained = state
      val batchStart = iter
      while (iter - batchStart < cfg.fusedSteps && iter < cfg.maxSteps) {
        iter += 1
        chained = GraftSqlCompat.truncatePlan(step(chained, iter))
      }
      val (nextCached, nextActive) = materialize(chained, cfg)
      active = nextActive
      val wall = (System.nanoTime() - t0) / 1000000L
      history :+= IterationMetrics(iter, active, wall)
      converged = active == 0L
      if (Verbose) System.err.println(s"[loop] iter=$iter active=$active wallMs=$wall")

      val prevCached = cached
      cfg.checkpointDir match {
        case Some(dir) if iter % cfg.checkpointInterval == 0 || converged =>
          // Durable snapshot: per-partition parquet + convergence metrics in
          // the manifest; reading it back also truncates all lineage.
          val snap = SnapshotStore.commit(nextCached, dir, Map(
            "iteration"   -> iter.toString,
            "activeCount" -> active.toString,
            "wallMs"      -> wall.toString,
            "partitions"  -> nextCached.rdd.getNumPartitions.toString))
          if (cfg.checkpointKeepLast > 0)
            SnapshotStore.expire(dir, cfg.checkpointKeepLast)
          nextCached.unpersist(false)
          cached = spark.read.parquet(snap.dataPath).persist(cfg.storageLevel)
          state  = cached
        case _ if iter - lastCut >= cfg.truncateInterval &&
                  !converged && iter < cfg.maxSteps =>
          // periodic hard cut of the physical RDD chain — only when the loop
          // will actually run more supersteps (the cut is an eager full copy
          // of the state; at loop exit it would be pure waste)
          lastCut = iter
          val cut = nextCached.localCheckpoint(true)
          nextCached.unpersist(false)
          cached = cut
          state  = cut
        case _ =>
          cached = nextCached
          state  = GraftSqlCompat.truncatePlan(nextCached)
      }
      prevCached.unpersist(false)
    }
    LoopResult(state, iter, converged, history)
  }
}
