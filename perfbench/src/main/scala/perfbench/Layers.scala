package perfbench

import perfbench.Main.QueryTrace

/** Per-layer metrics of a traced run. Every name is reported on every
  * workload; a layer the workload's op does not go through reads 0. Values
  * taken per op are the median over the traced ops. */
object Layers {

  val LlmOps = Seq("minhash", "fuzzy", "knn")

  /** (name, unit) of every per-layer metric, in output order. */
  val names: Seq[(String, String)] = Seq(
    "sql.plan_ms" -> "ms", "sql.exchanges" -> "count",
    "ops.gather_s" -> "s", "ops.tasks" -> "count", "ops.stages" -> "count",
    "ops.shuffle_write_bytes" -> "bytes", "ops.shuffle_read_bytes" -> "bytes", "ops.fetch_wait_ms" -> "ms",
    "ops.executor_cpu_ms" -> "ms", "ops.executor_run_ms" -> "ms", "ops.gc_ms" -> "ms",
    "ops.cpu_util" -> "ratio", "ops.task_skew" -> "ratio",
    "ops.spill_bytes" -> "bytes", "ops.peak_exec_mem_bytes" -> "bytes",
    "ops.rows_out" -> "count", "ops.series_skipped" -> "count", "ops.non_kernel_cpu_ms" -> "ms") ++
    Workload.Models.flatMap(m => Seq(s"kernels.ms_per_series.$m" -> "ms", s"kernels.alloc_bytes_per_series.$m" -> "bytes")) ++
    Seq("kernels.share" -> "ratio",
      "functions.minhash_ns_per_doc" -> "ns", "functions.levenshtein_ns_per_pair" -> "ns",
      "functions.cosine_ns_per_pair" -> "ns") ++
    LlmOps.flatMap(o => Seq(s"llm.$o.s" -> "s", s"llm.$o.candidate_rows" -> "count",
      s"llm.$o.pairs_out" -> "count", s"llm.$o.useful_ratio" -> "ratio",
      s"llm.$o.shuffle_write_bytes" -> "bytes", s"llm.$o.task_skew" -> "ratio", s"llm.$o.exchanges" -> "count")) ++
    Seq("bench.gen_s" -> "s", "bench.trace_overhead_pct" -> "%")

  /** Counters of several job groups as one. */
  def merge(xs: Seq[GroupStats]): GroupStats = {
    val m = new GroupStats
    xs.foreach { s =>
      m.tasks += s.tasks; m.stages += s.stages; m.cpuNs += s.cpuNs; m.runMs += s.runMs; m.gcMs += s.gcMs
      m.shuffleWrite += s.shuffleWrite; m.shuffleRead += s.shuffleRead; m.fetchWaitMs += s.fetchWaitMs
      m.spill += s.spill; m.peakExecMem = math.max(m.peakExecMem, s.peakExecMem)
      m.stageTasks ++= s.stageTasks; m.stageWall ++= s.stageWall
    }
    m
  }

  def metrics(wl: Workload, cores: Int, ops: Seq[(Double, Seq[QueryTrace])], micro: Map[String, Double],
              untraced: Seq[Double], traced: Seq[Double], genS: Double): Seq[(String, (Double, String))] = {
    require(ops.nonEmpty, "no traced op completed")
    def med(f: ((Double, Seq[QueryTrace])) => Double): Double = Stats.median(ops.map(f))
    def stat(f: GroupStats => Double) = med { case (_, qs) => f(merge(qs.map(_.stats))) }
    val cpuMs = stat(_.cpuNs / 1e6)
    def kernelMs(qs: Seq[QueryTrace]) = wl.kernelCpuMs(qs.map(_.label), micro)
    val allCpuMs = ops.map { case (_, qs) => merge(qs.map(_.stats)).cpuNs / 1e6 }.sum
    val values = Map[String, Double](
      "sql.plan_ms" -> med(_._2.map(_.planMs).sum),
      "sql.exchanges" -> med(_._2.map(_.exchanges.toDouble).sum),
      "ops.tasks" -> stat(_.tasks), "ops.stages" -> stat(_.stages),
      "ops.shuffle_write_bytes" -> stat(_.shuffleWrite), "ops.shuffle_read_bytes" -> stat(_.shuffleRead),
      "ops.fetch_wait_ms" -> stat(_.fetchWaitMs), "ops.executor_cpu_ms" -> cpuMs,
      "ops.executor_run_ms" -> stat(_.runMs), "ops.gc_ms" -> stat(_.gcMs),
      "ops.cpu_util" -> med { case (wall, qs) => merge(qs.map(_.stats)).cpuNs / 1e9 / (wall * cores) },
      "ops.task_skew" -> stat(_.taskSkew), "ops.spill_bytes" -> stat(_.spill),
      "ops.peak_exec_mem_bytes" -> stat(_.peakExecMem),
      "ops.rows_out" -> med { case (_, qs) => wl.rowsOut(qs.map(_.observed)).toDouble },
      "ops.series_skipped" -> med { case (_, qs) => wl.seriesSkipped(qs.map(q => q.label -> q.observed).toMap).toDouble },
      "ops.non_kernel_cpu_ms" -> med { case (_, qs) => merge(qs.map(_.stats)).cpuNs / 1e6 - kernelMs(qs) },
      "kernels.share" -> (if (allCpuMs > 0) ops.map(o => kernelMs(o._2)).sum / allCpuMs else 0.0),
      "bench.gen_s" -> genS,
      "bench.trace_overhead_pct" -> 100.0 * (Stats.median(traced) / Stats.median(untraced) - 1.0)) ++
      LlmOps.flatMap { o =>
        def q(f: QueryTrace => Double) = med { case (_, qs) => qs.find(_.label == o).map(f).getOrElse(0.0) }
        val cand = q(_.candidateRows.toDouble)
        val out = q(x => Check.long(x.observed, "rows").toDouble)
        Seq(s"llm.$o.s" -> q(_.spanMs / 1000), s"llm.$o.candidate_rows" -> cand, s"llm.$o.pairs_out" -> out,
          s"llm.$o.useful_ratio" -> (if (cand > 0) out / cand else 0.0),
          s"llm.$o.shuffle_write_bytes" -> q(_.stats.shuffleWrite.toDouble),
          s"llm.$o.task_skew" -> q(_.stats.taskSkew), s"llm.$o.exchanges" -> q(_.exchanges.toDouble))
      } ++ micro
    names.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }
  }
}
