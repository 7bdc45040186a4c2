package perfbench

import scala.collection.mutable

/** Metric names, units, and how each is derived from a run's spans and
  * listener counters. BENCHMARK.json lists the same names; `run.py` refuses
  * a result whose names differ from it. */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "edges_per_s" -> "edges/s",
    "shuffle_mb" -> "MB", "peak_heap_mb" -> "MB")

  val Pregel: Seq[String] = Seq("pagerank", "pagerank_resume", "wcc", "lp")
  val Algos: Seq[String] = Pregel :+ "triangle"

  val PerLayer: Seq[(String, String)] =
    Seq("io.warc_read_s" -> "s", "io.warc_records" -> "count", "io.warc_bad" -> "count",
      "io.extract_s" -> "s", "io.edges" -> "count", "io.checkpoint_s" -> "s",
      "io.checkpoints" -> "count", "io.checkpoint_mb" -> "MB",
      "io.result_commit_s" -> "s", "io.result_mb" -> "MB") ++
      Pregel.flatMap(a => Seq(s"pregel.$a.jobs" -> "count",
        s"pregel.$a.iterations" -> "count", s"pregel.$a.driver_gap_s" -> "s")) ++
      Algos.flatMap(a => Seq(s"algo.$a.wall_s" -> "s", s"algo.$a.eps" -> "edges/s",
        s"algo.$a.tasks" -> "count", s"algo.$a.executor_run_s" -> "s",
        s"algo.$a.shuffle_write_mb" -> "MB", s"algo.$a.shuffle_read_mb" -> "MB",
        s"algo.$a.spill_mb" -> "MB", s"algo.$a.gc_s" -> "s",
        s"algo.$a.task_skew" -> "ratio", s"algo.$a.cache_leaked" -> "count")) :+
      ("trace.overhead_s" -> "s")

  private val MB = 1e6

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Milliseconds of [lo, hi] covered by the union of `ivs`. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) total += curE - curS
          curS = a
          curE = b
        } else curE = math.max(curE, b)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Max task time over median task time per stage, weighted by the
    * stage's total task time. */
  def skew(st: SpanStats): Double = {
    val perStage = st.taskMs.values.filter(_.nonEmpty).map { ts =>
      val s = ts.sorted
      (s.sum.toDouble, s.last.toDouble / math.max(1L, s(s.size / 2)))
    }
    val w = perStage.map(_._1).sum
    if (w == 0) 1.0 else perStage.map { case (wi, r) => wi * r }.sum / w
  }

  def attach(s: Span, st: SpanStats): Unit = {
    s.counters("jobs") = st.jobs
    s.counters("job_s") = covered(st.jobIntervals.toSeq, s.startMs, s.endMs) / 1e3
    s.counters("tasks") = st.tasks.toDouble
    s.counters("executor_run_s") = st.runMs / 1e3
    s.counters("gc_s") = st.gcMs / 1e3
    s.counters("shuffle_write_mb") = st.shuffleWrite / MB
    s.counters("shuffle_read_mb") = st.shuffleRead / MB
    s.counters("spill_mb") = st.spill / MB
  }

  /** Every metric of one run. Layers the workload does not call read 0. */
  def ofRun(b: Bench, r: Run, shuffle: Long, heap: Long, checkpointS: Double): Map[String, Double] = {
    val spans = b.tracer.inRun(r.id)
    def secs(name: String) = spans.find(_.name == name).fold(0.0)(_.seconds)
    val m = mutable.LinkedHashMap.empty[String, Double]
    m ++= PerLayer.map(_._1 -> 0.0)
    m("wall_s") = spans.find(_.name == "run").get.seconds
    m("edges_per_s") = r.calls.map(c => c.edges.toDouble * c.supersteps).sum /
      r.calls.map(_.span.seconds).sum
    m("shuffle_mb") = shuffle / MB
    m("peak_heap_mb") = heap / MB
    m("io.warc_read_s") = secs("io.warc_read")
    m("io.extract_s") = secs("io.extract")
    m("io.result_commit_s") = secs("io.result_commit")
    m("io.checkpoint_s") = checkpointS
    m ++= r.values
    r.calls.foreach { c =>
      val a = c.name
      val st = b.probe.statsOf(c.span.id)
      val wall = c.span.seconds
      m(s"algo.$a.wall_s") = wall
      m(s"algo.$a.eps") = c.edges.toDouble * c.supersteps / wall
      m(s"algo.$a.tasks") = st.tasks.toDouble
      m(s"algo.$a.executor_run_s") = st.runMs / 1e3
      m(s"algo.$a.shuffle_write_mb") = st.shuffleWrite / MB
      m(s"algo.$a.shuffle_read_mb") = st.shuffleRead / MB
      m(s"algo.$a.spill_mb") = st.spill / MB
      m(s"algo.$a.gc_s") = st.gcMs / 1e3
      m(s"algo.$a.task_skew") = skew(st)
      m(s"algo.$a.cache_leaked") = c.leaked
      if (Pregel.contains(a)) {
        m(s"pregel.$a.jobs") = st.jobs
        m(s"pregel.$a.iterations") = c.supersteps
        m(s"pregel.$a.driver_gap_s") =
          (c.span.endMs - c.span.startMs - covered(st.jobIntervals.toSeq, c.span.startMs, c.span.endMs)) / 1e3
      }
    }
    m.toMap
  }

  /** Human-readable lines, a summary object, and the result object (last). */
  def report(b: Bench, runs: Seq[RunResult], setupS: Double, sessionS: Double,
             inputS: Seq[Double], warmS: Seq[Double]): String = {
    val untraced = runs.filterNot(_.traced)
    val traced = runs.filter(_.traced)
    def med(rs: Seq[RunResult], k: String) = median(rs.map(_.metrics(k)))
    val e2e = EndToEnd.map { case (n, u) =>
      (n, if (n == "setup_s") setupS else med(untraced, n), u)
    }
    val layer = PerLayer.map { case (n, u) =>
      (n, if (n == "trace.overhead_s") med(traced, "wall_s") - med(untraced, "wall_s") else med(traced, n), u)
    }
    val shown = if (b.o.trace) layer else e2e
    shown.foreach { case (n, v, u) => println(f"# $n%-34s ${Json.num(v)}%s $u") }
    println(Json.obj(Seq(
      "workload" -> Json.str(b.o.workload),
      "seed" -> b.o.seed.toString,
      "trace" -> b.o.trace.toString,
      "cores" -> b.cores.toString,
      "runs" -> untraced.size.toString,
      "traced_runs" -> traced.size.toString,
      "failed_ratio" -> Json.num(b.acct.failedRatio),
      "errors" -> b.acct.errors.map(Json.str).mkString("[", ",", "]"),
      "session_s" -> Json.num(sessionS),
      "input_setup_s" -> inputS.map(Json.num).mkString("[", ",", "]"),
      "warmup_s" -> warmS.map(Json.num).mkString("[", ",", "]"),
      "wall_s_runs" -> untraced.map(r => Json.num(r.metrics("wall_s"))).mkString("[", ",", "]"),
      "end_to_end" -> Json.obj(e2e.map { case (n, v, _) => n -> Json.num(v) }))))
    val correct = b.acct.failed == 0 && untraced.nonEmpty && (!b.o.trace || traced.nonEmpty)
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> b.acct.attempted.toString,
      "failed" -> b.acct.failed.toString,
      "metrics" -> Json.obj(shown.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
