package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `op` is the identifier every span of one op shares;
  * times are epoch milliseconds (listener events carry ms resolution). */
final case class Span(id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double) {
  def durationMs: Double = endMs - startMs
}

object Span {

  /** Self time: the span's duration minus the part of its interval covered
    * by the union of its children (children are clipped to the parent, and
    * overlapping children are counted once). */
  def selfMs(parent: Span, children: Seq[Span]): Double = {
    val iv = children
      .map(c => (math.max(c.startMs, parent.startMs), math.min(c.endMs, parent.endMs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    parent.durationMs - covered
  }
}

/** In-memory span store; written out once, at the end of the run. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  /** A span id for an interval whose end is not known yet. */
  def reserve(): Int = synchronized { val i = nextId; nextId += 1; i }

  def put(id: Int, parent: Int, op: Int, name: String, startMs: Double, endMs: Double): Unit =
    synchronized { spans += Span(id, parent, op, name, startMs, endMs) }

  def add(parent: Int, op: Int, name: String, startMs: Double, endMs: Double): Int = {
    val id = reserve()
    put(id, parent, op, name, startMs, endMs)
    id
  }

  /** Time `f` as a span; `f` receives the span's id so it can parent children. */
  def span[T](parent: Int, op: Int, name: String)(f: Int => T): T = {
    val id = reserve()
    val t0 = Clock.nowMs
    try f(id) finally put(id, parent, op, name, t0, Clock.nowMs)
  }

  def all: Seq[Span] = synchronized(spans.toList.sortBy(_.id))

  /** JSON lines: one span per line with its self time. */
  def render(): Iterator[String] = {
    val xs = all
    val kids = xs.groupBy(_.parent)
    xs.iterator.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durationMs,
        "self_ms" -> Span.selfMs(s, kids.getOrElse(s.id, Nil)))
    }
  }
}

object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  /** Epoch-aligned milliseconds with nanoTime resolution. */
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Per-job-group execution counters, summed from task-end events. */
final class GroupStats {
  var tasks = 0L
  var stages = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakExecMem = 0L
  /** stage id -> task durations (ms), and stage id -> stage wall time (ms) */
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  val stageWall = mutable.Map.empty[Int, Double]

  /** max / median task time of the stage with the longest wall time. */
  def taskSkew: Double =
    if (stageWall.isEmpty) 1.0
    else {
      val longest = stageWall.maxBy(_._2)._1
      stageTasks.get(longest).filter(_.nonEmpty) match {
        case Some(ts) => val m = Stats.median(ts.toSeq); if (m > 0) ts.max / m else 1.0
        case None => 1.0
      }
    }
}

/** Spark listener that attributes jobs, stages and tasks to the job group
  * the benchmark set around each traced op (`setJobGroup`), and records job
  * and stage spans parented to that op's span. Only groups starting with
  * `t:` are recorded; untraced ops use another prefix and cost one lookup. */
final class OpListener(tracer: Tracer) extends SparkListener {
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val jobSpan = mutable.Map.empty[Int, Int]
  val stats = mutable.Map.empty[String, GroupStats]
  /** group -> (op id, parent span id) registered by the client thread. */
  val parents = mutable.Map.empty[String, (Int, Int)]

  def register(group: String, op: Int, parentSpan: Int): Unit = synchronized {
    parents(group) = (op, parentSpan)
    stats(group) = new GroupStats
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null && g.startsWith("t:")) {
      jobStart(e.jobId) = (g, e.time)
      jobSpan(e.jobId) = tracer.reserve()
      e.stageIds.foreach { s => groupOfStage.getOrElseUpdate(s, g); jobOfStage.getOrElseUpdate(s, e.jobId) }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      val (op, parent) = parents.getOrElse(g, (0, 0))
      tracer.put(jobSpan(e.jobId), parent, op, s"job ${e.jobId}", t0.toDouble, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    groupOfStage.get(info.stageId).foreach { g =>
      val st = stats.getOrElseUpdate(g, new GroupStats)
      st.stages += 1
      for (a <- info.submissionTime; b <- info.completionTime) {
        st.stageWall(info.stageId) = (b - a).toDouble
        val op = parents.get(g).map(_._1).getOrElse(0)
        val parent = jobOfStage.get(info.stageId).flatMap(jobSpan.get).getOrElse(0)
        tracer.add(parent, op, s"stage ${info.stageId} (${info.numTasks} tasks)", a.toDouble, b.toDouble)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    groupOfStage.get(e.stageId).foreach { g =>
      val st = stats.getOrElseUpdate(g, new GroupStats)
      st.tasks += 1
      st.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.peakExecMem = math.max(st.peakExecMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Collects the executed physical plan of every query that finishes while
  * a traced op runs (the noop write's plan carries the final adaptive plan
  * with its SQL metrics filled in). */
final class PlanCapture extends QueryExecutionListener {
  private val plans = mutable.ArrayBuffer.empty[SparkPlan]
  @volatile var capturing = false

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (capturing) synchronized { plans += qe.executedPlan }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def take(): Seq[SparkPlan] = synchronized { val r = plans.toList; plans.clear(); r }
}

object Plans {
  /** Children of a physical plan node, descending into adaptive plans, query
    * stages and command wrappers; reused exchanges are not descended. */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case c: CommandResultExec => Seq(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Nil
    case other => other.children
  }

  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[Exchange])

  private def rows(n: SparkPlan): Long = n.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  private def isJoin(n: SparkPlan): Boolean = n.getClass.getSimpleName.contains("Join")
  private def isGenerate(n: SparkPlan): Boolean = n.getClass.getSimpleName == "GenerateExec"

  /** Candidate rows of a pair generator's plan: the largest `numOutputRows`
    * of a join (the candidate join); in a plan without joins, that of the
    * explode nearest the root (the pairs emitted before deduplication). */
  def candidateRows(p: SparkPlan): Long = {
    val joins = nodes(p).filter(isJoin)
    if (joins.nonEmpty) joins.map(rows).max else nearestGenerateRows(p)
  }

  private def nearestGenerateRows(p: SparkPlan): Long =
    if (isGenerate(p)) rows(p) else children(p).map(nearestGenerateRows).sum
}
