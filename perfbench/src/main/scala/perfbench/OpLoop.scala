package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** What the timed loop did. `walls` are the untraced ops' wall seconds;
  * `traced` pairs each traced op's wall seconds with its op id. */
final case class LoopResult(walls: Seq[Double], traced: Seq[(Double, Int)], attempted: Int, failed: Int,
                            failures: Seq[String], wallS: Double) {
  def failedRatio: Double = failed.toDouble / math.max(attempted, 1)
}

/** Closed loop with one client thread: op n+1 is issued when op n has
  * returned, for `seconds`. An op fails when it throws or returns failed
  * checks; either way it counts as attempted. In a traced run every second
  * op is traced, so traced and untraced ops share the same stretch of time
  * and their difference is the tracing overhead. */
object OpLoop {
  /** The tail rule needs more than ten samples; an untraced loop that has
    * not reached this many ops keeps going, for at most `MaxLoopSeconds`
    * (the whole run must end within three minutes). A traced loop reports
    * no tail and needs fewer. */
  val MinOps = 11
  val MinTracedOps = 8
  val MaxLoopSeconds = 100.0

  def run(seconds: Double, trace: Boolean)(op: (Int, Boolean) => Seq[String]): LoopResult = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Double, Int)]
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minOps = if (trace) MinTracedOps else MinOps
    while (elapsed < seconds || (walls.length + traced.length < minOps && elapsed < MaxLoopSeconds)) {
      val id = attempted + 1
      val isTraced = trace && id % 2 == 0
      val s = System.nanoTime()
      val errs =
        try op(id, isTraced)
        catch { case NonFatal(e) => Seq(s"op threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - s) / 1e9
      attempted += 1
      if (errs.nonEmpty) { failed += 1; failures ++= errs.take(3).map(e => s"op $id: $e") }
      if (isTraced) traced += ((wall, id)) else walls += wall
    }
    LoopResult(walls.toList, traced.toList, attempted, failed, failures.toList, elapsed)
  }
}
