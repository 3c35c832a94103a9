package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** Benchmark driver: one workload, one seed, one closed loop with a single
  * client thread against `local[nproc]`.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  *
  * The last stdout line is the result object; lines before it are
  * provenance and diagnostics. Untraced runs (`--trace 0`) report the
  * end-to-end metrics; traced runs report the per-layer metrics and write
  * the span file. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace, m.getOrElse("out", "."))
  }

  /** (name, unit) of every end-to-end metric, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s", "series_per_s" -> "1/s",
    "docs_per_s" -> "1/s", "ok_ratio" -> "ratio", "mase" -> "ratio", "peak_rss_mb" -> "MB")

  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def session(cores: Int, out: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      // an op of curate_pairs generates ~150 classes; with the default cache
      // of 100 they evict each other, every op recompiles them and the JIT
      // the new classes, and op time varies by ~20% from run to run
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", Paths.get(out, "spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", Paths.get(out, "warehouse").toAbsolutePath.toString)
      .getOrCreate()

  /** Untraced query: job group only, then the noop write. */
  final class PlainRunner(spark: SparkSession, group: () => String) extends QueryRunner {
    def run(label: String, build: => DataFrame, checks: Seq[Column]): Map[String, Any] = {
      spark.sparkContext.setJobGroup(group(), label, interruptOnCancel = false)
      val obs = Observation()
      build.observe(obs, checks.head, checks.tail: _*).write.format("noop").mode("overwrite").save()
      obs.get
    }
  }

  /** What a traced query left behind. */
  final case class QueryTrace(label: String, observed: Map[String, Any], spanMs: Double, planMs: Double,
                              exchanges: Int, candidateRows: Long, stats: GroupStats)

  /** Traced query: a span per query with children for DataFrame
    * construction, `sql.plan` (forcing the executed plan) and `exec` (the
    * noop write); the listener attributes jobs to the query's job group. */
  final class TracedRunner(spark: SparkSession, tracer: Tracer, listener: OpListener,
                           capture: PlanCapture) extends QueryRunner {
    var op = 0
    var opSpan = 0
    val queries = mutable.ArrayBuffer.empty[QueryTrace]

    def run(label: String, build: => DataFrame, checks: Seq[Column]): Map[String, Any] = {
      val group = s"t:$op:$label"
      val t0 = Clock.nowMs
      var planMs = 0.0
      val observed = tracer.span(opSpan, op, label) { qSpan =>
        listener.register(group, op, qSpan)
        spark.sparkContext.setJobGroup(group, label, interruptOnCancel = false)
        capture.capturing = true
        try {
          val df = tracer.span(qSpan, op, s"$label.build")(_ => build)
          val obs = Observation()
          val observedDf = df.observe(obs, checks.head, checks.tail: _*)
          val p0 = Clock.nowMs
          tracer.span(qSpan, op, "sql.plan")(_ => observedDf.queryExecution.executedPlan)
          planMs = Clock.nowMs - p0
          tracer.span(qSpan, op, "exec") { _ =>
            observedDf.write.format("noop").mode("overwrite").save()
            obs.get
          }
        } finally {
          PerfbenchBridge.drainListeners(spark.sparkContext)
          capture.capturing = false
        }
      }
      val spanMs = Clock.nowMs - t0
      val plans = capture.take()
      // the noop write finishes last, so its plan is the last one captured
      queries += QueryTrace(label, observed, spanMs, planMs, plans.map(Plans.exchanges).sum,
        plans.lastOption.map(Plans.candidateRows).getOrElse(0L),
        listener.stats.getOrElse(group, new GroupStats))
      observed
    }
  }

  def run(a: Args): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val host0 = Host.sample()
    val wl = Workload(a.workload)
    Files.createDirectories(Paths.get(a.out))

    // ---- set-up, from JVM start to the first timed op: session, seeded
    // inputs, cached tables and the warm-up ops
    val spark = session(cores, a.out)
    val t1 = Clock.nowMs
    wl.generate(a.seed)
    val t2 = Clock.nowMs
    val genS = (t2 - t1) / 1000
    wl.load(spark)
    val t3 = Clock.nowMs
    val warmup = (1 to wl.warmupOps).map { i =>
      val s = Clock.nowMs
      val errs = wl.op(new PlainRunner(spark, () => s"u:warmup$i"))
      require(errs.isEmpty, s"warm-up op $i failed its checks: ${errs.mkString("; ")}")
      (Clock.nowMs - s) / 1000
    }
    val t4 = Clock.nowMs
    val setupS = (t4 - jvmStartMs) / 1000
    println(Json.obj("workload" -> a.workload, "seed" -> a.seed, "input_digest" -> wl.inputDigest,
      "units" -> wl.units, "setup_s" -> setupS,
      "setup_phases_s" -> f"jvm+session ${(t1 - jvmStartMs) / 1000}%.2f gen $genS%.2f load ${(t3 - t2) / 1000}%.2f warm-up ${(t4 - t3) / 1000}%.2f",
      "warmup_walls_s" -> warmup))

    // ---- timed closed loop
    val tracer = new Tracer
    val listener = new OpListener(tracer)
    val capture = new PlanCapture
    if (a.trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(capture)
    }
    var opId = 0
    val plain = new PlainRunner(spark, () => s"u:$opId")
    val traced = new TracedRunner(spark, tracer, listener, capture)
    val tracedQueries = mutable.Map.empty[Int, Seq[QueryTrace]]
    wl.timed = true
    val cpuLoop0 = Host.processCpuNs()
    val jit = ManagementFactory.getCompilationMXBean
    val jitLoop0 = jit.getTotalCompilationTime
    val codegenLoop0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val host1 = Host.sample()
    var unitsDone = 0L
    val loop = OpLoop.run(a.seconds, a.trace) { (id, isTraced) =>
      opId = id
      val errs =
        if (!isTraced) wl.op(plain)
        else {
          traced.op = id
          traced.queries.clear()
          try tracer.span(0, id, s"op $id") { s => traced.opSpan = s; wl.op(traced) }
          finally tracedQueries(id) = traced.queries.toList
        }
      if (errs.isEmpty && !isTraced) unitsDone += wl.units
      errs
    }
    val loopCpu = (Host.processCpuNs() - cpuLoop0) / 1e9
    val loopJitS = (jit.getTotalCompilationTime - jitLoop0) / 1000.0
    val loopCodegens = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenLoop0
    val host2 = Host.sample()

    // ---- after the loop: microbenchmarks (traced runs only)
    val micro = if (a.trace) wl.micro(spark) else Map.empty[String, Double]
    val rssMb = Host.peakRssKb() / 1024.0
    val host3 = Host.sample()
    spark.stop()

    val walls = loop.walls
    val tail = Stats.tail(walls)
    val prov = Seq(
      "nproc" -> cores, "master" -> s"local[$cores]", "shuffle_partitions" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "source" -> sys.props.getOrElse("perfbench.source", "unknown"),
      "git_commit" -> sys.props.getOrElse("perfbench.commit", "unknown"),
      "loadavg_before" -> host0.loadavg, "loadavg_after" -> host3.loadavg,
      "process_cpu_s" -> Host.processCpuNs() / 1e9,
      "loop_wall_s" -> loop.wallS, "loop_cpu_s" -> loopCpu, "loop_jit_compile_s" -> loopJitS,
      "loop_codegen_compiles" -> loopCodegens) ++
      Host.contention(host1, host2, loopCpu, loop.wallS, cores) ++ Seq(
      "op_tail_percentile" -> tail.map(_.percentile), "op_samples" -> walls.length,
      "op_tail_beyond" -> tail.map(_.beyond), "op_walls_s" -> walls,
      "attempted" -> loop.attempted, "failed" -> loop.failed,
      "failed_ratio" -> loop.failedRatio,
      "failures" -> loop.failures.take(10).toList)
    println(Json.obj("provenance" -> Raw(Json.obj(prov: _*))))

    val metrics: Seq[(String, (Double, String))] =
      if (!a.trace) {
        val throughput = unitsDone / walls.sum
        val values = Map(
          "setup_s" -> setupS,
          "op_p50_s" -> Stats.median(walls),
          "op_tail_s" -> tail.map(_.value).getOrElse(walls.max),
          "series_per_s" -> throughput,
          "docs_per_s" -> throughput,
          "ok_ratio" -> (1.0 - loop.failedRatio),
          "mase" -> wl.accuracy.getOrElse(Double.MaxValue),
          "peak_rss_mb" -> rssMb)
        EndToEnd.map { case (n, u) => n -> (values(n), u) }
      } else {
        val ops = loop.traced.map { case (wall, id) => (wall, tracedQueries.getOrElse(id, Nil)) }
        Layers.metrics(wl, cores, ops, micro, walls, loop.traced.map(_._1), genS)
      }

    if (a.trace) {
      val path = Paths.get(a.out, s"spans-${a.workload}-${a.seed}.jsonl")
      Files.write(path, (tracer.render().mkString("\n") + "\n").getBytes("UTF-8"))
      println(Json.obj("spans_file" -> path.toString, "spans" -> tracer.all.length))
    }
    metrics.foreach { case (k, (v, u)) => System.err.println(f"$k%-44s $v%.6g $u") }
    // an untraced run must also have produced the tail and the accuracy metric it reports
    val correct = loop.failed == 0 && (a.trace || (wl.accuracy.isDefined && tail.isDefined))
    println(Json.obj("correct" -> correct, "attempted" -> loop.attempted, "failed" -> loop.failed,
      "metrics" -> Raw(Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Raw(Json.obj("value" -> v, "unit" -> u)) }: _*))))
  }
}
