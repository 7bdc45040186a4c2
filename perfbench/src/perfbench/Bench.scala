package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line: `--workload NAME --seed N --seconds S --trace 0|1 --work DIR
  * --trace-dir DIR`; `--work` holds scratch data, `--trace-dir` the spans. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, traceDir: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("trace-dir"))
  }
}

/** An algorithm call made by a run: its span, the work it did, how many
  * cache entries it left registered, and the results it handed back. */
final case class AlgoCall(name: String, span: Span, edges: Long, supersteps: Int,
                          cacheAdded: Int, handed: Seq[DataFrame]) {
  var leaked = 0
}

/** One pass of a workload. Stage calls go through [[stage]] (span + failure
  * accounting); algorithm calls through [[algo]]. */
final class Run(val id: String, b: Bench) {
  val values: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val calls: mutable.ArrayBuffer[AlgoCall] = mutable.ArrayBuffer.empty
  val iterations: mutable.LinkedHashMap[String, Int] = mutable.LinkedHashMap.empty

  def put(k: String, v: Double): Unit = values(k) = v

  def stage[A](name: String)(body: => A): A = b.acct.call(id, name)(b.tracer.span(name)(body))

  def algo[A](a: String, edges: Long)(call: => A)(supersteps: A => Int,
                                                 handed: A => Seq[DataFrame]): A = {
    val before = b.cachedEntries
    val res = stage(s"algo.$a")(call)
    val span = b.tracer.spans.findLast(s => s.run == id && s.name == s"algo.$a").get
    val steps = supersteps(res)
    iterations(a) = steps
    calls += AlgoCall(a, span, edges, steps, b.cachedEntries - before, handed(res))
    res
  }

  def check(stage: String, what: String)(ok: => Boolean): Unit = b.acct.check(id, stage, what)(ok)
}

/** A workload: input set-up (repeatable), the timed pass, its output checks
  * and the clean-up that returns the session to holding only the input. */
abstract class Workload(val b: Bench) {
  def spark: SparkSession = b.spark
  /** Input set-ups made; set-up time reports their median. */
  def inputReps: Int = 3
  /** Untimed passes before measuring: the first pass of a process costs
    * about 1.6 times a steady one (class loading, code generation, JIT);
    * the second is within about 8% of steady. */
  def warmups: Int = 1
  /** Timed passes made even when one pass outlasts `--seconds`. */
  def minRuns: Int = 1
  def setupInput(): Unit
  def timed(r: Run): Unit
  /** Output checks; `first` is true once per invocation, for the costly ones. */
  def check(r: Run, first: Boolean): Unit
  def cleanup(r: Run): Unit = ()
}

final case class RunResult(id: String, traced: Boolean, metrics: Map[String, Double])

final class Bench(val o: Opts) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  val work: Path = Paths.get(o.work).toAbsolutePath
  val acct = new Accounting
  var spark: SparkSession = _
  var tracer: Tracer = _
  val probe = new Probe
  lazy val actions = new Actions(dir("ckpt"))
  /** Persisted RDDs that hold the workload input (kept across runs). */
  var inputRdds: Set[Int] = Set.empty
  private var firstIterations: Option[Map[String, Int]] = None
  /** Runs that yielded timings, set by [[execute]]. */
  var results: Seq[RunResult] = Nil

  def dir(rel: String): String = work.resolve(rel).toString

  def cachedEntries: Int = PerfbenchAccess.cachedEntries(spark)

  def persistedRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Drop every cache entry and persisted RDD that is not workload input. */
  def clearLeftovers(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!inputRdds(id)) rdd.unpersist(blocking = true)
    }
  }

  private def session(): SparkSession = {
    Files.createDirectories(work.resolve("spark-local"))
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secondsOf(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** One pass: timed region, then (outside it) heap, listener counters,
    * output checks, leak accounting and clean-up. None when a stage failed. */
  def runOnce(w: Workload, id: String, traced: Boolean, check: Boolean,
              first: Boolean): Option[RunResult] = {
    val sc = spark.sparkContext
    System.gc()
    val stray = cachedEntries
    if (stray != 0) acct.fail(id, "bench.cache_hygiene", s"$stray cache entries before the run")
    PerfbenchAccess.drain(sc)
    probe.takeShuffleWritten()
    if (traced) {
      actions.take()
      spark.listenerManager.register(actions)
      probe.taskLevel = true
    }
    Heap.reset()
    tracer.run = id
    val r = new Run(id, this)
    val failedBefore = acct.failed
    val ok =
      try { tracer.span("run")(w.timed(r)); true }
      catch { case _: Accounting.StageFailed => false }
    val heap = Heap.peakAfterGc()
    PerfbenchAccess.drain(sc)
    val shuffle = probe.takeShuffleWritten()
    val (checkpointS, funcs) = if (traced) actions.take() else (0.0, Map.empty[String, (Int, Double)])
    if (traced) {
      spark.listenerManager.unregister(actions)
      probe.taskLevel = false
      val runSpan = tracer.inRun(id).find(_.name == "run").get
      funcs.foreach { case (f, (n, s)) =>
        runSpan.counters(s"action.$f.count") = n
        runSpan.counters(s"action.$f.s") = s
      }
      tracer.inRun(id).foreach(s => Metrics.attach(s, probe.statsOf(s.id)))
    }
    if (ok) {
      val its = r.iterations.toMap
      firstIterations match {
        case None => firstIterations = Some(its)
        case Some(f) => its.foreach { case (a, n) =>
          r.check(s"algo.$a", s"iterations identical across runs (${f.get(a)} vs $n)")(f.get(a).contains(n))
        }
      }
      if (check) w.check(r, first)
    }
    r.calls.foreach { c =>
      val n0 = cachedEntries
      c.handed.foreach(_.unpersist(false))
      c.leaked = c.cacheAdded - (n0 - cachedEntries)
    }
    w.cleanup(r)
    clearLeftovers()
    // a run with a failed stage call or output check yields no timing
    if (!ok || acct.failed != failedBefore) None
    else Some(RunResult(id, traced,
      Metrics.ofRun(this, r, shuffle, heap, checkpointS)))
  }

  /** Set-up, warm-up, timed runs; returns the result object to print. */
  def execute(): String = {
    val sessionS = secondsOf {
      spark = session()
      tracer = new Tracer(spark.sparkContext)
      spark.sparkContext.addSparkListener(probe)
      Heap.install()
      spark.range(1).count()
    }
    val w = Workloads(o.workload, this)
    val inputS = (1 to w.inputReps).map { i =>
      tracer.run = s"setup-input-$i"
      secondsOf(tracer.span("setup.input")(w.setupInput()))
    }
    // a traced process warms up one pass more, so that its untraced and
    // traced passes both run warm and their difference is the tracing cost
    val warmups = w.warmups + (if (o.trace) 1 else 0)
    val warmS = (1 to warmups).map { i =>
      secondsOf(runOnce(w, s"warmup-$i", traced = false, check = false, first = false))
    }
    val setupS = sessionS + Metrics.median(inputS) + warmS.sum

    val runs = mutable.ArrayBuffer.empty[RunResult]
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    var longest = 0.0
    // start no pass that could overrun the process deadline
    def fits = Main.sinceStart + 1.3 * longest < Main.RunBudgetSeconds
    // trace mode alternates untraced and traced passes: it needs one of each
    val minRuns = math.max(w.minRuns, if (o.trace) 2 else 1)
    while ((i < minRuns || elapsed < o.seconds) && (i == 0 || fits) && i < 64) {
      val traced = o.trace && i % 2 == 1
      val t = secondsOf(runOnce(w, s"run-$i", traced, check = true, first = i == 0).foreach(runs += _))
      longest = math.max(longest, t)
      i += 1
    }
    results = runs.toSeq
    writeTrace()
    Metrics.report(this, runs.toSeq, setupS, sessionS, inputS, warmS)
  }

  private def writeTrace(): Unit = {
    val dirPath = Paths.get(o.traceDir).toAbsolutePath
    Files.createDirectories(dirPath)
    val f = dirPath.resolve(s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}.jsonl")
    val lines = tracer.spans.map { s =>
      val counters = s.counters.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
      s"""{"id":${s.id},"parent":${s.parent},"run":${Json.str(s.run)},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"counters":$counters}"""
    }
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Main {
  /** Seconds by which a benchmark process must have finished its passes
    * (the driving script stops it at 172 s). */
  val RunBudgetSeconds = 160.0
  private val t0 = System.nanoTime()
  def sinceStart: Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    if (o.workload == "self-test") sys.exit(SelfTest.run(o))
    val bench = new Bench(o)
    val out =
      try bench.execute()
      finally if (bench.spark != null) bench.spark.stop()
    println(out)
  }
}
