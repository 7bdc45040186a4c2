package graft.pregel

import org.apache.spark.sql.{Column, DataFrame, GraftSqlCompat, Observation, Row, SparkSession, functions}
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
  */
final case class LoopConfig(
  maxSteps: Int,
  checkpointDir: Option[String] = None,
  checkpointInterval: Int = 1,
  fusedSteps: Int = 1,
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
  * hash-partitioned by `id`, typically a projection of
  * [[graft.core.PropertyGraph.vertexIds]]; a projection that also aliases
  * `id` (`id AS comp`) is fine, plan truncation keeps its partitioning on
  * `id`. The loop plans at the session's
  * shuffle width: callers scope it to the width of their inputs with
  * [[graft.core.GraphOps.withShuffleWidth]] around the whole call.
  */
object SuperstepLoop {

  val ActiveCol = "_active"

  /** RDD-lineage cut cadence via localCheckpoint, with or without durable
    * checkpoints. (The LOGICAL plan is already truncated every iteration at
    * zero cost — see [[GraftSqlCompat.truncatePlan]] — but task closures
    * serialize the physical RDD chain, which must be cut periodically too;
    * reading a snapshot back would cut it, but would also lose the state's
    * partitioning.) */
  private val TruncateInterval = 8

  private val StateStorage = StorageLevel.MEMORY_AND_DISK

  private val Verbose = sys.env.get("GRAFT_LOOP_VERBOSE").contains("1")

  def run(init: DataFrame, cfg: LoopConfig)
         (step: (DataFrame, Int) => DataFrame): LoopResult =
    withIterationConf(init.sparkSession) {
      loop(init, 0, cfg)(step)
    }

  /** Resume from the latest durable snapshot under `cfg.checkpointDir`.
    * Falls back to `init` (fresh run) when no snapshot exists. The final
    * state is identical to an uninterrupted run: supersteps are pure
    * functions of the previous state, and snapshot commits are atomic.
    * The snapshot is read with the schema its manifest records, so the
    * read plans no schema-inference job. A parquet scan reports no
    * partitioning, so the first superstep of a resumed run shuffles the
    * re-read state by id once; from then on the state stays id-partitioned
    * as in an uninterrupted run. */
  def resume(spark: SparkSession, init: => DataFrame, cfg: LoopConfig)
            (step: (DataFrame, Int) => DataFrame): LoopResult = {
    val dir = cfg.checkpointDir.getOrElse(
      throw new IllegalArgumentException("resume requires checkpointDir"))
    SnapshotStore.latest(dir) match {
      case None => run(init, cfg)(step)
      case Some(snap) =>
        val iter   = snap.meta("iteration").toInt
        val active = snap.meta("activeCount").toLong
        val state  = SnapshotStore.load(spark, snap)
        if (active == 0L || iter >= cfg.maxSteps)
          LoopResult(state, iter, active == 0L, Seq.empty)
        else withIterationConf(spark) {
          loop(state, iter, cfg)(step)
        }
    }
  }

  /** Loop-scoped session conf, also used by iterative algorithms that drive
    * their own loop (MsBfs, MaxKCut); previous settings restored after:
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
    *    side (PageRank.step, LabelPropagation.syncStep and the [[gather]]
    *    kernel).
    */
  private[graft] def withIterationConf[A](spark: SparkSession)(body: => A): A =
    withConf(spark, Seq(AqeKey -> "false", "spark.sql.autoBroadcastJoinThreshold" -> "-1"))(body)

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

  /** Scatter: `senders` (`id` and the payload the messages read), the
    * caller's id-partitioned projection of the state, joined onto `edges`,
    * which [[persistInput]] holds partitioned by `from`. The hash table is
    * built on the V-row senders, so the E-row edge table streams past it
    * unsorted and unshuffled. The rows keep `from` (the sender id), the
    * payload and every edge column. */
  private[graft] def scatter(senders: DataFrame, edges: DataFrame, from: String = "src"): DataFrame =
    senders.withColumnRenamed("id", from).hint("shuffle_hash").join(edges, from)

  /** The superstep kernel: [[scatter]], then `msg` to each edge's `to`
    * endpoint as `id`, reduced per receiver by the aggregate `reduce` (map-side
    * combined, so the superstep's only exchange carries one partial row per
    * receiver and map task). `msg` and `reduce` carry the caller's aliases.
    * The result is id-partitioned like the state, for [[joinBack]]. */
  private[graft] def gather(senders: DataFrame, edges: DataFrame, msg: Column, reduce: Column,
                            from: String = "src", to: String = "dst"): DataFrame =
    scatter(senders, edges, from).select(col(to).as("id"), msg).groupBy("id").agg(reduce)

  /** `rows` left-joined on `key` with the V-row frame `byId` (`id`, …),
    * whose `id` is renamed to `key`; the hash table is built on `byId`, so
    * `rows` is never sorted. With `rows` the state and `byId` a [[gather]]
    * result this is a superstep's join-back (no exchange: both sides are
    * id-partitioned); with `rows` scattered edge rows it looks up the state
    * of each row's receiver. */
  private[graft] def joinBack(rows: DataFrame, byId: DataFrame, key: String = "id"): DataFrame =
    rows.join((if (key == "id") byId else byId.withColumnRenamed("id", key)).hint("shuffle_hash"),
      Seq(key), "left")

  /** One monotone-relaxation superstep on the kernel: every active vertex
    * sends `cand` (an expression over its `value` and the edge row) along
    * `edges`; each `to` endpoint keeps the min (`min = true`) or max of its
    * `value` and its best candidate, and is active next superstep iff that
    * improved it. Other state columns pass through in place. This is the
    * update rule of hash-min WCC, BFS, SSSP (Dijkstra's distance phase), A*
    * and SCC's coloring and backward-reach fixpoints. */
  private[graft] def relax(state: DataFrame, edges: DataFrame, value: String, cand: Column,
                           min: Boolean, from: String = "src", to: String = "dst"): DataFrame = {
    val candidates = gather(state.filter(col(ActiveCol)).select(col("id"), col(value)), edges,
      cand.as("_cand"), (if (min) functions.min("_cand") else max("_cand")).as("_cand"), from, to)
    val (better, best) =
      if (min) (col("_cand") < col(value), least(col(value), col("_cand")))
      else (col("_cand") > col(value), greatest(col(value), col("_cand")))
    joinBack(state.select(state.columns.filter(_ != ActiveCol).map(col): _*), candidates)
      .select(state.columns.toSeq.map {
        case ActiveCol => coalesce(better, lit(false)).as(ActiveCol)
        case `value`   => best.as(value)
        case c         => col(c)
      }: _*)
  }

  private def activeCount: Column = count(when(col(ActiveCol), lit(1))).as("active")

  /** Materialize `df` (persist) and return its active count — ONE action:
    * the aggregate populates the cache and folds the count in the same job. */
  private def materialize(df: DataFrame): (DataFrame, Long) = {
    val cached = df.persist(StateStorage)
    val row: Row = cached.agg(activeCount).collect()(0)
    (cached, row.getLong(0))
  }

  /** Materialize `df` by committing it as the next snapshot under `dir`,
    * and return its active count — also ONE action: the parquet write scans
    * the persisted plan, so it fills the cache, and the count is observed on
    * that write. The manifest, renamed into place last, records it. */
  private def materializeSnapshot(df: DataFrame, dir: String, iter: Int, t0: Long): (DataFrame, Long) = {
    val cached = df.persist(StateStorage)
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
    var (cached, active) = materialize(init)
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
        case Some(dir) => materializeSnapshot(chained, dir, iter, t0)
        case None      => materialize(chained)
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
      if (iter - lastCut >= TruncateInterval && !converged && iter < cfg.maxSteps) {
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
