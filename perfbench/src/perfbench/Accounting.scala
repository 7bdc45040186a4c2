package perfbench

import scala.collection.mutable

/** Failure accounting. Every stage call counts as attempted; a call that
  * throws, or whose output check fails, counts as failed once and its name
  * lands in `errors`. A failed call never yields a timing. */
final class Accounting {
  private var calls = 0
  private val failedCalls = mutable.LinkedHashSet.empty[(String, String)]
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def attempted: Int = calls
  def failed: Int = failedCalls.size
  def failedRatio: Double = if (calls == 0) 0.0 else failed.toDouble / calls

  /** Run one stage call of run `run`; a throw is recorded and rethrown as
    * [[Accounting.StageFailed]] so the rest of the run is abandoned. */
  def call[A](run: String, stage: String)(body: => A): A = {
    calls += 1
    try body
    catch {
      case e: Accounting.StageFailed => throw e
      case e @ (_: Exception | _: StackOverflowError) =>
        fail(run, stage, s"threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}")
        throw new Accounting.StageFailed(stage)
    }
  }

  /** Output check of an earlier stage call; a false result or a throw marks
    * that call failed. */
  def check(run: String, stage: String, what: String)(ok: => Boolean): Unit = {
    val passed =
      try ok
      catch {
        case e @ (_: Exception | _: StackOverflowError) =>
          fail(run, stage, s"check '$what' threw ${e.getClass.getSimpleName}")
          true // recorded already
      }
    if (!passed) fail(run, stage, s"check '$what' failed")
  }

  def fail(run: String, stage: String, why: String): Unit = {
    failedCalls += (run -> stage)
    errors += s"$run/$stage: $why"
  }
}

object Accounting {
  final class StageFailed(stage: String) extends RuntimeException(s"stage $stage failed")
}
