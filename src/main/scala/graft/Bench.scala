package graft

import org.apache.spark.sql.SparkSession
import graft.bench.{Quiet, ScalingBench}

/** Per-round benchmark main (driver contract): times every SparkEntry query
  * on SPARK_GRAFT_SF_DIR and prints the contract JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Extra keys (ignored by consumers that only read the contract fields)
  * carry the north-rule primary metric: PageRank edges/sec/superstep on the
  * deterministic synthetic web graph at two parallelism levels on the same
  * input, plus the derived scaling efficiency (see BASELINE.md).
  *
  * DURABILITY (round-4 post-mortem): the driver enforces a wall-clock budget
  * and keeps only the LAST ~2000 chars of output; round 4's run was killed
  * mid-phase before ANYTHING printed (rc:124, parsed:null). This harness now
  * (a) runs the query board FIRST — the most valuable artifact is never the
  * casualty of an overrun; (b) re-emits the full cumulative contract line
  * the moment each phase completes (queries → in-process scaling leg →
  * multi-JVM cluster leg), so a kill at ANY point leaves the best-so-far
  * line parseable in the tail; (c) silences Spark's startup INFO logging in
  * this JVM and every spawned executor JVM (bench.Quiet) so later phases
  * can't flood the capture window; (d) gives every phase a hard deadline
  * (GRAFT_BENCH_DEADLINE_SECS from JVM start, default 1500) under which a
  * busy box degrades to fewer scaling reps — reported as such in the
  * per-rep arrays — instead of a dead process.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    Quiet.install()
    val t0       = System.nanoTime()
    val sfDir    = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus     = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val budget   = sys.env.getOrElse("GRAFT_BENCH_DEADLINE_SECS", "1500").toLong
    val deadline = t0 + budget * 1000000000L
    def remainingSecs: Double = (deadline - System.nanoTime()) / 1e9

    // ---------- Phase 1: the full query board ----------
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // tmpfs shuffle spill, same as the scaling legs: query timings should
      // measure the engine, not the block device
      .config("spark.local.dir",
        sys.env.getOrElse("GRAFT_BENCH_LOCAL_DIR", "/dev/shm/spark-local"))
      // survive long GC stalls on a loaded box (see SparkTestBase)
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // dev-only subset filter (comma-separated names); full suite when unset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      if (unknown.nonEmpty)
        System.err.println(s"[bench] WARNING: SPARK_GRAFT_BENCH_ONLY names match no query: " +
          unknown.toSeq.sorted.mkString(","))
      if (names.intersect(SparkEntry.queries.keySet).isEmpty)
        System.err.println("[bench] WARNING: filter selected ZERO queries — timings below are empty")
    }
    // A query that throws gets no timing: it is left out of the timings and
    // the total, and named with its exception in the detail line's `errors`.
    val outcomes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val q0 = System.nanoTime()
        try { fn(spark, sfDir).count(); name -> Right((System.nanoTime() - q0) / 1e9) }
        catch { case e: Throwable => name -> Left(e) }
      }
    val results = outcomes.collect { case (n, Right(secs)) => n -> secs }
    val errors  = outcomes.collect { case (n, Left(e)) => n -> e }
    val total = results.map(_._2).sum
    spark.stop()

    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    def jsonString(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""
    val errorsJson = errors.map { case (n, e) =>
      s"""{"query":${jsonString(n)},"error":${jsonString(
        (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300))}}"""
    }.mkString("[", ",", "]")

    // Full per-query detail on its OWN line: the driver captures only the
    // LAST ~2000 chars of output, so the machine-parsed contract line (below)
    // must stay comfortably under that budget (rounds 1-2 shipped one
    // ~2.7k-char line and the driver recorded parsed=null both times). The
    // detail line may scroll out of the tail; the contract line carries the
    // total, a representative headline subset, and the scaling blocks.
    println(s"""{"metric":"queries_full","unit":"sec","queries":${toJson(results)},"sf":"$sfDir","errors":$errorsJson}""")

    val headline = Seq(
      "q_pagerank", "q_wcc", "q_scc", "q_labelprop", "q_louvain",
      "q_triangle_global", "q_betweenness", "q_hits", "q_node_similarity",
      "q_knn", "q_dijkstra", "q_minhash_neardup", "q_simhash_neardup",
      "q_dedup_exact", "q_ann_topk", "q_ivf_topk", "q_sessionize",
      "q_events_window", "q_token_count", "q_fastrp", "q_node2vec",
      "q_graphsage")
    val byName = results.toMap
    // Cumulative contract-line emitter: called after EVERY phase so the
    // best-so-far line is always the last thing in the output tail.
    def emit(scaling: String, scalingCluster: String): Unit = {
      var picks = headline.flatMap(n => byName.get(n).map(n -> _))
      def line(ps: Seq[(String, Double)]): String =
        s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","queries":${toJson(ps)},"sf":"$sfDir"$scaling$scalingCluster}"""
      while (line(picks).length > 1700 && picks.nonEmpty) picks = picks.init
      println(line(picks))
      System.out.flush()
    }
    emit("", "")

    // ---------- Phase 2: north-rule in-process scaling pair ----------
    // Same synthetic input at N and 4N cores. The N -> 4N pair is
    // local[1] -> local[4]: both legs sit far below this single-socket box's
    // memory-bandwidth saturation point, which is what makes the pair a
    // faithful proxy for N -> 4N EXECUTORS (every node of a real cluster
    // brings its own memory channels; extra threads on one socket do not —
    // at 8+ threads the shared channels throttle ANY data-traffic-bound job
    // here). The 4 -> max-cores leg plus the measured hardware ceiling for a
    // zero-shuffle cached-scan aggregation (graft.tools.MemBwProbe) are
    // reported alongside so the saturation context is visible. Disabled with
    // SPARK_GRAFT_SCALING=0.
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") == "1"
    val nPages    = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "1000000").toLong
    val cLow      = sys.env.getOrElse("GRAFT_BENCH_CORES_LOW", "1").toInt
    val cHigh     = sys.env.getOrElse("GRAFT_BENCH_CORES_HIGH", "4").toInt
    val scaling =
      if (doScaling && remainingSecs > 120) {
        val supersteps = 8
        val reps = sys.env.getOrElse("GRAFT_BENCH_REPS", "3").toInt
        try {
          // the in-process phase gets at most ~55% of the remaining budget
          // so the multi-JVM leg (phase 3) is never starved entirely
          val phaseDeadline = math.min(deadline,
            System.nanoTime() + (remainingSecs * 0.55 * 1e9).toLong)
          val runs = ScalingBench.pageRankInterleaved(Seq(cLow, cHigh, cpus), nPages,
            supersteps, reps = reps, deadlineNanos = phaseDeadline)
          val (low, mid, high) = (runs(cLow), runs(cHigh), runs(cpus))
          val eff = (low.secs / mid.secs) / (cHigh.toDouble / cLow)
          // per-rep pairwise efficiencies (interleaved reps are time-adjacent):
          // a loaded-box episode shows up as outlier reps in the artifact
          // itself instead of silently dragging the headline ratio
          val repEffs = ScalingBench.lastRepTimes.get(cLow)
            .zip(ScalingBench.lastRepTimes.get(cHigh))
            .map { case (ls, hs) => ls.zip(hs).map { case (l, h) =>
              (l / h) / (cHigh.toDouble / cLow) } }
            .getOrElse(Nil)
          val repEffJson = if (repEffs.isEmpty) "" else
            s""","per_rep_efficiency":[${repEffs.map("%.3f".format(_)).mkString(",")}]"""
          val effHiMax = (mid.secs / high.secs) / (cpus.toDouble / cHigh)
          // free-convergence iteration counts at 1e-6 and the reference
          // default 1e-7 on the standard density-1 corpus (fixed 200k pages —
          // iteration count is a property of the graph, not its size)
          val iters =
            if (remainingSecs > 240) ScalingBench.iterationsToTol(cpus, 200000L, density = 1.0)
            else (0, 0)
          // hardware context: the box's own thread-scaling ceiling for ANY
          // data-traffic-bound job (zero-shuffle cached-scan agg) at the
          // same core pairs — the denominator that makes the thread pair a
          // faithful executor-pair proxy.
          val (bwEffPair, bwEffHiMax) =
            if (remainingSecs > 180) {
              val bwLow  = graft.tools.MemBwProbe.run(cLow, 200000000L)
              val bwHigh = graft.tools.MemBwProbe.run(cHigh, 200000000L)
              val bwMax  = graft.tools.MemBwProbe.run(cpus, 200000000L)
              ((bwLow / bwHigh) / (cHigh.toDouble / cLow),
               (bwHigh / bwMax) / (cpus.toDouble / cHigh))
            } else (0.0, 0.0)
          s""","pagerank_scaling":{"pages":$nPages,"edges":${low.edges},""" +
            s""""supersteps":$supersteps,"cores_low":$cLow,"secs_low":${"%.3f".format(low.secs)},""" +
            s""""eps_low":${"%.0f".format(low.edgesPerSecPerSuperstep)},"cores_high":$cHigh,""" +
            s""""secs_high":${"%.3f".format(mid.secs)},"eps_high":${"%.0f".format(mid.edgesPerSecPerSuperstep)},""" +
            s""""scaling_efficiency":${"%.3f".format(eff)}$repEffJson,""" +
            s""""iters_to_1e6":${iters._1},"iters_to_1e7":${iters._2},""" +
            s""""hw_ceiling_efficiency_${cLow}_$cHigh":${"%.3f".format(bwEffPair)},""" +
            s""""efficiency_vs_hw_ceiling_${cLow}_$cHigh":${"%.3f".format(if (bwEffPair > 0) eff / bwEffPair else 0.0)},""" +
            s""""cores_max":$cpus,"secs_max":${"%.3f".format(high.secs)},""" +
            s""""eps_max":${"%.0f".format(high.edgesPerSecPerSuperstep)},""" +
            s""""scaling_efficiency_${cHigh}_$cpus":${"%.3f".format(effHiMax)},""" +
            s""""hw_ceiling_efficiency_${cHigh}_$cpus":${"%.3f".format(bwEffHiMax)}}"""
        } catch { case _: Throwable => "" }
      } else ""
    if (scaling.nonEmpty) emit(scaling, "")

    // ---------- Phase 3: multi-JVM cluster leg ----------
    // The same job on REAL separate executor processes —
    // local-cluster[1,1] vs local-cluster[4,1], i.e. 1 executor vs 4
    // executors with netty shuffle and cross-process serialization.
    // Machine-visible here so regressions in the real-executor shape show up
    // in the bench JSON, not only in prose. The in-process pair above stays
    // the headline (see BASELINE.md for why the single-box multi-JVM ratio
    // under-reads a real N->4N pair). FIXED rep protocol — see
    // ScalingBench.pageRankClusterInterleaved. Disabled with
    // SPARK_GRAFT_SCALING_CLUSTER=0.
    val scalingCluster =
      if (doScaling && sys.env.getOrElse("SPARK_GRAFT_SCALING_CLUSTER", "1") == "1" &&
          remainingSecs > 120) {
        val reps  = sys.env.getOrElse("GRAFT_BENCH_CLUSTER_REPS", "3").toInt
        try {
          val runs = ScalingBench.pageRankClusterInterleaved(
            Seq(cLow, cHigh), nPages, supersteps = 8, reps = reps,
            deadlineNanos = deadline)
          if (runs.isEmpty) ""
          else {
            val (lo, hi) = (runs(cLow), runs(cHigh))
            val eff = (lo.secs / hi.secs) / (cHigh.toDouble / cLow)
            val repEffs = ScalingBench.lastRepTimes.get(cLow)
              .zip(ScalingBench.lastRepTimes.get(cHigh))
              .map { case (ls, hs) => ls.zip(hs).map { case (l, h) =>
                (l / h) / (cHigh.toDouble / cLow) } }
              .getOrElse(Nil)
            val repEffJson = if (repEffs.isEmpty) "" else
              s""","per_rep_efficiency":[${repEffs.map("%.3f".format(_)).mkString(",")}]"""
            // same-WINDOW hardware ceiling (the in-process block's ceiling
            // was measured minutes earlier; co-tenant load moves): a
            // loaded-box cluster reading then self-documents its context
            val cbwEff =
              if (remainingSecs > 60) {
                val cbwLow  = graft.tools.MemBwProbe.run(cLow, 200000000L)
                val cbwHigh = graft.tools.MemBwProbe.run(cHigh, 200000000L)
                (cbwLow / cbwHigh) / (cHigh.toDouble / cLow)
              } else 0.0
            s""","pagerank_scaling_cluster":{"pages":$nPages,"edges":${lo.edges},""" +
              s""""supersteps":8,"executors_low":$cLow,"secs_low":${"%.3f".format(lo.secs)},""" +
              s""""eps_low":${"%.0f".format(lo.edgesPerSecPerSuperstep)},""" +
              s""""executors_high":$cHigh,"secs_high":${"%.3f".format(hi.secs)},""" +
              s""""eps_high":${"%.0f".format(hi.edgesPerSecPerSuperstep)},""" +
              s""""scaling_efficiency":${"%.3f".format(eff)}$repEffJson,""" +
              s""""hw_ceiling_same_window_${cLow}_$cHigh":${"%.3f".format(cbwEff)}}"""
          }
        } catch { case _: Throwable => "" }
      } else ""
    // final cumulative contract line — always the last line of the run
    emit(scaling, scalingCluster)
  }
}
