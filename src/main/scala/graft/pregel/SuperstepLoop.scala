package graft.pregel

import org.apache.spark.sql.{Column, DataFrame, GraftSqlCompat, Observation, Row, SparkSession}
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
  *                           The snapshot is for durability only: its parquet
  *                           write is the one job that fills the next state's
  *                           cache (the active count is observed on that same
  *                           write), and the loop goes on from the persisted,
  *                           still id-partitioned state, never from the files.
  *                           A run that converges between intervals commits
  *                           its final state too.
  * @param checkpointInterval snapshot cadence (1 = every iteration, the
  *                           north-rule default).
  * @param truncateInterval   RDD-lineage cut cadence via localCheckpoint,
  *                           with or without durable checkpoints. (The
  *                           LOGICAL plan is already truncated every
  *                           iteration at zero cost — see
  *                           [[GraftSqlCompat.truncatePlan]] — but task
  *                           closures serialize the physical RDD chain,
  *                           which must be cut periodically too; reading a
  *                           snapshot back would cut it, but would also lose
  *                           the state's partitioning.)
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
  * latency at benchmark scale). A checkpointed batch is one action too:
  * the snapshot's parquet write fills the cache, and an [[Observation]] on
  * that write carries the active count.
  *
  * Shuffle discipline: the driver never repartitions state; each step is
  * expected to produce state hash-partitioned by id (the natural output of
  * its groupBy), so the next step's join against edges pre-partitioned on src
  * reuses partitioning instead of adding exchanges. Edge tables are
  * persisted through [[persistInput]], whose cached plan is non-adaptive:
  * an adaptive one hides its partitioning until the cache is built, and
  * superstep 1 would shuffle the edge table again. The initial state must be
  * partitioned by `id` after its final projection: a projection that also
  * aliases `id` (`id AS comp`) leaves a partitioning that plan truncation
  * reads as `hashpartitioning(comp)`.
  */
object SuperstepLoop {

  val ActiveCol = "_active"

  private val Verbose = sys.env.get("GRAFT_LOOP_VERBOSE").contains("1")

  def run(init: DataFrame, cfg: LoopConfig)
         (step: (DataFrame, Int) => DataFrame): LoopResult =
    withLoopConf(init.sparkSession, cfg) {
      loop(init, 0, cfg)(step)
    }

  /** Resume from the latest durable snapshot under `cfg.checkpointDir`.
    * Falls back to `init` (fresh run) when no snapshot exists. The final
    * state is identical to an uninterrupted run: supersteps are pure
    * functions of the previous state, and snapshot commits are atomic.
    * A parquet scan reports no partitioning, so the first superstep of a
    * resumed run shuffles the re-read state by id once; from then on the
    * state stays id-partitioned as in an uninterrupted run. */
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
          loop(state, iter, cfg)(step)
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
    val off =
      if (disable) Seq(AqeKey -> "false", "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      else Nil
    withConf(spark, off ++ width.map("spark.sql.shuffle.partitions" -> _.toString))(body)
  }

  private val AqeKey = "spark.sql.adaptive.enabled"

  /** Runs `body` with `settings` applied, restoring each key's previous
    * value (or unsetting it) afterwards. */
  private[graft] def withConf[A](spark: SparkSession, settings: Seq[(String, String)])
                                 (body: => A): A = {
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Persist a superstep input hash-partitioned by `key` into `parts`
    * (`distinct` dedups on that same exchange: equal rows share a key, so
    * the aggregate needs no exchange of its own).
    *
    * The cache entry is planned with adaptive execution off, and only the
    * `persist` call sees that setting. An adaptive cached plan reports
    * UnknownPartitioning until the cache has been built, so the first
    * superstep planned over it (before any action has run) would shuffle
    * the whole input a second time. A non-adaptive cached plan reports
    * `hashpartitioning(key, parts)` from the start, and every superstep
    * joins it without an exchange. The broadcast threshold is left alone,
    * so setup joins upstream of the repartition keep their plans. */
  private[graft] def persistInput(df: DataFrame, parts: Int, key: String,
                                  distinct: Boolean = false): DataFrame = {
    val parted = df.repartition(parts, col(key))
    val input = if (distinct) parted.distinct() else parted
    withConf(df.sparkSession, Seq(AqeKey -> "false"))(input.persist())
  }

  private def activeCount: Column = count(when(col(ActiveCol), lit(1))).as("active")

  /** Materialize `df` (persist) and return its active count — ONE action:
    * the aggregate populates the cache and folds the count in the same job. */
  private def materialize(df: DataFrame, cfg: LoopConfig): (DataFrame, Long) = {
    val cached = df.persist(cfg.storageLevel)
    val row: Row = cached.agg(activeCount).collect()(0)
    (cached, row.getLong(0))
  }

  /** Materialize `df` by committing it as the next snapshot under `dir`,
    * and return its active count — also ONE action: the parquet write scans
    * the persisted plan, so it fills the cache, and the count is observed on
    * that write. The manifest, renamed into place last, records it. */
  private def materializeSnapshot(df: DataFrame, dir: String, cfg: LoopConfig,
                                  iter: Int, t0: Long): (DataFrame, Long) = {
    val cached = df.persist(cfg.storageLevel)
    val observed = Observation()
    lazy val active = observed.get("active").asInstanceOf[Long]
    SnapshotStore.commit(cached.observe(observed, activeCount), dir,
      snapshotMeta(cached, iter, active, t0))
    (cached, active)
  }

  private def snapshotMeta(state: DataFrame, iter: Int, active: Long,
                           t0: Long): Map[String, String] = Map(
    "iteration"   -> iter.toString,
    "activeCount" -> active.toString,
    "wallMs"      -> ((System.nanoTime() - t0) / 1000000L).toString,
    "partitions"  -> state.rdd.getNumPartitions.toString)

  private def loop(init: DataFrame, startIter: Int, cfg: LoopConfig)
                  (step: (DataFrame, Int) => DataFrame): LoopResult = {
    // `cached` is the handle holding storage; `state` is the plan-truncated
    // view handed to the next superstep.
    var (cached, active) = materialize(init, cfg)
    var state   = GraftSqlCompat.truncatePlan(cached)
    var history = Seq.empty[IterationMetrics]
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
      val checkpoint = cfg.checkpointDir.filter(_ => iter % cfg.checkpointInterval == 0)
      val (nextCached, nextActive) = checkpoint match {
        case Some(dir) => materializeSnapshot(chained, dir, cfg, iter, t0)
        case None      => materialize(chained, cfg)
      }
      active = nextActive
      val wall = (System.nanoTime() - t0) / 1000000L
      history :+= IterationMetrics(iter, active, wall)
      converged = active == 0L
      if (Verbose) System.err.println(s"[loop] iter=$iter active=$active wallMs=$wall")

      // a run that converges between checkpoint intervals still leaves its
      // final state durable (a second job, once per run)
      if (checkpoint.isEmpty && converged)
        cfg.checkpointDir.foreach(dir =>
          SnapshotStore.commit(nextCached, dir, snapshotMeta(nextCached, iter, active, t0)))
      if (cfg.checkpointKeepLast > 0 && (checkpoint.isDefined || converged))
        cfg.checkpointDir.foreach(SnapshotStore.expire(_, cfg.checkpointKeepLast))

      val prevCached = cached
      if (iter - lastCut >= cfg.truncateInterval && !converged && iter < cfg.maxSteps) {
        // periodic hard cut of the physical RDD chain — only when the loop
        // will actually run more supersteps (the cut is an eager full copy
        // of the state; at loop exit it would be pure waste)
        lastCut = iter
        val cut = nextCached.localCheckpoint(true)
        nextCached.unpersist(false)
        cached = cut
        state  = cut
      } else {
        cached = nextCached
        state  = GraftSqlCompat.truncatePlan(nextCached)
      }
      prevCached.unpersist(false)
    }
    LoopResult(state, iter, converged, history)
  }
}
