package perfbench

import org.apache.spark.sql.functions.lit

/** A workload built to fail: in run-0 its second stage throws (ANSI
  * division by zero); in run-1 that stage returns, but its output check
  * fails. Neither run may yield a timing. */
final class FailingWorkload(b: Bench) extends Workload(b) {
  private var out = 0L
  override def inputReps = 1
  override def warmups = 0
  override def minRuns = 2

  def setupInput(): Unit = ()

  def timed(r: Run): Unit = {
    r.stage("self.count")(spark.range(10).count())
    val divisor = if (r.id == "run-0") 0 else 1
    out = r.stage("self.divide")(spark.range(1).select(lit(1L) / lit(divisor)).first().getDouble(0).toLong)
  }

  def check(r: Run, first: Boolean): Unit =
    r.check("self.divide", "deliberately wrong expected value")(out == 2L)
}

/** Checks that failure accounting records both failing stage calls in
  * `errors`, counts them in the failed ratio, and reports no timing. */
object SelfTest {
  def run(o: Opts): Int = {
    val b = new Bench(o.copy(seconds = 0))
    val result =
      try b.execute()
      finally if (b.spark != null) b.spark.stop()
    val errs = b.acct.errors
    val expect = Seq(
      "run-0 throw recorded" -> errs.exists(e => e.startsWith("run-0/self.divide: threw")),
      "run-1 check failure recorded" -> errs.exists(e => e.startsWith("run-1/self.divide: check")),
      "2 of 4 stage calls failed" -> (b.acct.attempted == 4 && b.acct.failed == 2),
      "no timing reported" -> b.results.isEmpty,
      "result not correct" -> result.contains("\"correct\":false"))
    expect.foreach { case (what, ok) => println(s"self-test: ${if (ok) "ok  " else "FAIL"} $what") }
    println(s"self-test: errors = ${errs.mkString(" | ")}")
    if (expect.forall(_._2)) 0 else 1
  }
}
