package graft.pregel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{GraphOps, PropertyGraph}

/** Public vertex-centric Pregel API — the user extension surface of SURVEY
  * §2.6 (reference contract: pregel/src/main/java/org/neo4j/gds/beta/pregel/
  * PregelComputation.java:38-117: init / compute(messages) / message
  * reducer / vote-to-halt, plus Pregel.java's run loop).
  *
  * Spark-first shape: the user supplies COLUMN EXPRESSIONS, not per-vertex
  * closures, so every superstep stays inside whole-stage codegen — a
  * superstep is one (active ⋈ edges) join, one message groupBy with the
  * user's reducer (map-side combined), and one state join-update, built on
  * the superstep kernel ([[SuperstepLoop.scatter]], [[SuperstepLoop.joinBack]]).
  * The edge table is persisted once per call by the sender side of each
  * message direction (by `src` for [[sendMsgToDst]], by `dst` for
  * [[sendMsgToSrc]]), so a superstep streams it past a hash table of the
  * senders without shuffling or sorting it; a message that reads the
  * receiver's state adds one hash join on the receiver. The loop itself
  * (persistence, plan truncation, lazy superstep fusion, durable
  * checkpoint/resume, convergence) is [[SuperstepLoop]].
  *
  * Vote-to-halt follows the reference: every vertex votes to halt after each
  * superstep and is woken only by an incoming message; `haltIf` adds an
  * explicit predicate on top. Null messages are not sent (the standard way
  * to express "don't message along this edge yet").
  *
  * Example — single-source shortest paths:
  * {{{
  * val dist = Pregel(graph)
  *   .withVertexColumn("dist",
  *     init = when(col("id") === 0L, 0.0),
  *     afterMsg = when(Pregel.msg < coalesce(col("dist"), lit(Double.MaxValue)),
  *       Pregel.msg).otherwise(col("dist")))
  *   .sendMsgToDst(when(Pregel.src("dist").isNotNull,
  *     Pregel.src("dist") + Pregel.edge("weight")))
  *   .aggMsgs(min(Pregel.msg))
  *   .setMaxIterations(50)
  *   .run()   // => (id, dist)
  * }}}
  */
final class Pregel private (graph: PropertyGraph) {

  private case class VertexCol(name: String, init: Column, afterMsg: Column)
  private var vertexCols   = Vector.empty[VertexCol]
  private var msgsToDst    = Vector.empty[Column]
  private var msgsToSrc    = Vector.empty[Column]
  private var reducer: Option[Column] = None
  private var masterAggs = Vector.empty[(String, Column)]
  private var haltCond: Option[Column] = None
  private var maxIterations = 10
  private var checkpointDir: Option[String] = None
  private var checkpointInterval = 1
  private var checkpointKeepLast = 0
  private var fusedSteps = 1

  /** Declare a state column: `init` over the vertex table's columns;
    * `afterMsg` recomputes it from the previous state columns plus
    * [[Pregel.msg]]. It is evaluated only for vertices that received a
    * message this superstep — all others keep their value (the reference's
    * compute() likewise only runs on messaged/active vertices). */
  def withVertexColumn(name: String, init: Column, afterMsg: Column): this.type = {
    vertexCols :+= VertexCol(name, init, afterMsg); this
  }

  /** Message sent along each out-edge to its destination; may reference
    * [[Pregel.src]], [[Pregel.dst]], [[Pregel.edge]]. Null = no message. */
  def sendMsgToDst(msg: Column): this.type = { msgsToDst :+= msg; this }

  /** Message sent along each in-edge to its source (reverse direction). */
  def sendMsgToSrc(msg: Column): this.type = { msgsToSrc :+= msg; this }

  /** Message reducer over [[Pregel.msg]] — the reference's
    * Reducer (SUM/MIN/MAX/COUNT/...): any aggregate expression. */
  def aggMsgs(agg: Column): this.type = { reducer = Some(agg); this }

  /** Per-superstep master step (the reference's
    * `PregelComputation.masterCompute`, PregelComputation.java:98-117): an
    * aggregate expression over ALL vertices' state columns, evaluated at the
    * start of every superstep and visible to that superstep's message /
    * update / halt expressions as [[Pregel.master]]`(name)`.
    *
    * Spark-first shape: the aggregate is a 1-row in-plan frame BROADCAST
    * back into the superstep (the Eigenvector L2 pattern,
    * [[graft.algo.Eigenvector]]) — no driver `.first()` per superstep, so
    * fused supersteps chain lazily through it. Example — per-round L2
    * normalization:
    * {{{
    * .withMasterCompute("l2", sqrt(sum(col("next") * col("next"))))
    * .sendMsgToDst(Pregel.src("next") / Pregel.master("l2"))
    * }}} */
  def withMasterCompute(name: String, agg: Column): this.type = {
    masterAggs :+= (name -> agg); this
  }

  /** Extra halt predicate evaluated on the UPDATED state columns: a vertex
    * that satisfies it stays halted even if messaged next superstep. */
  def haltIf(cond: Column): this.type = { haltCond = Some(cond); this }

  def setMaxIterations(n: Int): this.type = { maxIterations = n; this }

  /** Durable per-iteration snapshots (resume via [[SuperstepLoop.resume]]'s
    * semantics — reuse the same dir to continue an interrupted run).
    * `keepLast > 0` expires older snapshots after each commit
    * ([[graft.io.SnapshotStore.expire]]) so disk stays O(keepLast) on long
    * runs; 0 keeps the full history. */
  def setCheckpointDir(dir: String, interval: Int = 1,
                       keepLast: Int = 0): this.type = {
    checkpointDir = Some(dir); checkpointInterval = interval
    checkpointKeepLast = keepLast; this
  }

  /** Chain this many supersteps lazily per driver action (see
    * [[LoopConfig.fusedSteps]]); requires the computation to be
    * fixpoint-stable, which vote-to-halt computations are: a halted
    * vertex receives no messages, so extra supersteps are identity. */
  def setFusedSteps(n: Int): this.type = { fusedSteps = n; this }

  /** Does any user expression reference `<side>.<col>`? Decides whether the
    * message join needs that endpoint's state at all — referencing only the
    * sender keeps a superstep at ONE state-edges join. */
  private def references(exprs: Seq[Column], side: String): Boolean =
    // `_pregel_src.`/`_pregel_dst.` (dot included — a user literal named
    // e.g. `_pregel_dst_x` must not match) and the `_pregel_master_` prefix
    // are reserved namespaces only mintable via Pregel.src/dst/master, so
    // scanning the column's pretty form is exact; Spark 4 columns are lazy
    // ColumnNode trees (no public Catalyst traversal before analysis),
    // which rules out a structural walk here. A false positive merely adds
    // a join; a false negative is impossible for minted columns.
    exprs.exists(_.toString.contains(side))

  def run(): DataFrame = {
    require(vertexCols.nonEmpty, "at least one withVertexColumn is required")
    require(msgsToDst.nonEmpty || msgsToSrc.nonEmpty, "at least one sendMsg is required")
    require(reducer.nonEmpty, "aggMsgs is required")
    // superstep shuffles sized to the edge table (session width at scale,
    // data-sized on small graphs — see GraphOps.adaptiveParts)
    val spark = graph.edges.sparkSession
    val width = GraphOps.adaptiveParts(spark, graph.edges.count())
    GraphOps.withShuffleWidth(spark, width) {
      val (bySrc, byDst) = edgeTables(width)
      val result = SuperstepLoop.run(initState(width), LoopConfig(
        maxSteps = maxIterations, checkpointDir = checkpointDir,
        checkpointInterval = checkpointInterval, fusedSteps = fusedSteps,
        checkpointKeepLast = checkpointKeepLast))((state, _) => step(bySrc, byDst)(state))
      (bySrc ++ byDst).foreach(_.unpersist(false))
      result.state.select(col("id") +: vertexCols.map(v => col(v.name)): _*)
    }
  }

  /** The edge table persisted by the sender side of each declared direction:
    * by `src` for [[sendMsgToDst]], by `dst` for [[sendMsgToSrc]]. */
  private[graft] def edgeTables(width: Int): (Option[DataFrame], Option[DataFrame]) = (
    Option.when(msgsToDst.nonEmpty)(SuperstepLoop.persistInput(graph.edges, width, "src")),
    Option.when(msgsToSrc.nonEmpty)(SuperstepLoop.persistInput(graph.edges, width, "dst")))

  /** (id, state columns, _active), partitioned by id after the projection. */
  private[graft] def initState(width: Int): DataFrame =
    graph.vertices.select(col("id") +: vertexCols.map(v => v.init.as(v.name)) :+
        lit(true).as(SuperstepLoop.ActiveCol): _*)
      .repartition(width, col("id"))

  /** One superstep over the id-partitioned `state0`: every active vertex
    * sends its messages through the superstep kernel's scatter along the
    * edge tables of [[edgeTables]], the messages are reduced per receiver
    * (one exchange), and the receivers update their columns. */
  private[graft] def step(bySrc: Option[DataFrame], byDst: Option[DataFrame])
                         (state0: DataFrame): DataFrame = {
    val stateCols = vertexCols.map(_.name)
    // masterCompute: one 1-row aggregate over ALL vertices' current state,
    // broadcast back into the superstep's own plan (no driver round-trip;
    // chains lazily under fusedSteps like the rest of the step)
    val masterRow: Option[DataFrame] =
      if (masterAggs.isEmpty) None
      else {
        val aggs = masterAggs.map { case (n, a) => a.as(s"_pregel_master_$n") }
        Some(state0.agg(aggs.head, aggs.tail: _*))
      }
    val state = masterRow.fold(state0)(r => state0.crossJoin(broadcast(r)))
    // an endpoint's state as a message row reads it: Pregel.src / Pregel.dst
    def endpoint(side: String, of: DataFrame): DataFrame =
      of.select(col("id"), struct(stateCols.map(col): _*).as(s"_pregel_$side"))
    // Messages along `edges` (persisted by the sender side `from`) to `to`.
    // Sender must be active (classic Pregel: halted vertices don't compute).
    // One DataFrame per declared message; the union below is free (no
    // shuffle happens until the reducer's groupBy).
    def messages(msgs: Seq[Column], edges: Option[DataFrame], from: String,
                 to: String): Seq[DataFrame] =
      edges.toSeq.flatMap { e =>
        var rows = SuperstepLoop.scatter(
          endpoint(from, state.filter(col(SuperstepLoop.ActiveCol))), e, from)
        // the receiver's state joins in only if referenced — sender-only
        // messages keep a superstep at ONE state-edges join
        if (references(msgs, s"_pregel_$to."))
          rows = SuperstepLoop.joinBack(rows, endpoint(to, state), key = to)
        // master values join into the message frame only if referenced
        masterRow.foreach { r =>
          if (references(msgs, "_pregel_master_")) rows = rows.crossJoin(broadcast(r))
        }
        msgs.map(m => rows.select(col(to).as("id"), m.as("_pregel_msg"))
          .filter(col("_pregel_msg").isNotNull))
      }

    val reduced = (messages(msgsToDst, bySrc, "src", "dst") ++
        messages(msgsToSrc, byDst, "dst", "src"))
      .reduce(_ unionByName _)
      .groupBy("id").agg(reducer.get.as("_pregel_msg"))

    val received = col("_pregel_msg").isNotNull
    val updated = vertexCols.map(v =>
      when(received, v.afterMsg).otherwise(col(v.name)).as(v.name))
    // halt predicate sees the UPDATED columns: evaluate via a two-step select
    SuperstepLoop.joinBack(state, reduced)
      .select(col("id") +: updated :+ col("_pregel_msg"): _*)
      .select(col("id") +: stateCols.map(col) :+ (haltCond match {
        case Some(h) => col("_pregel_msg").isNotNull && !coalesce(h, lit(false))
        case None    => col("_pregel_msg").isNotNull
      }).as(SuperstepLoop.ActiveCol): _*)
  }
}

object Pregel {
  def apply(graph: PropertyGraph): Pregel = new Pregel(graph)

  /** The reduced incoming message (null when none arrived). */
  val msg: Column = col("_pregel_msg")

  /** Sender-side / receiver-side state column in a message expression. */
  def src(name: String): Column = col(s"_pregel_src.$name")
  def dst(name: String): Column = col(s"_pregel_dst.$name")

  /** A [[Pregel#withMasterCompute]] aggregate's value, usable in message /
    * update / halt expressions of the superstep it was computed for. */
  def master(name: String): Column = col(s"_pregel_master_$name")

  /** Edge attribute column in a message expression. */
  def edge(name: String): Column = col(name)
}
