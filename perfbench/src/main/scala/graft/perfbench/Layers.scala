package graft.perfbench

import scala.jdk.CollectionConverters._

/** Process-wide counters the engine and Spark already keep, read as
  * deltas around a window. Cheap enough for untraced runs.
  */
object Counters {
  /** (codegen compile ns, classes compiled) — both JVM-global in Spark. */
  def codegen(): (Long, Long) =
    (org.apache.spark.sql.execution.WholeStageCodegenExec.codeGenTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** (hits, misses) summed over every family cache the engine exposes. */
  def familyCache(): (Long, Long) = {
    val all = graft.operators.PipelineQueries.familyCacheStats :+
      graft.operators.OpsQueries.gramCacheStats
    (all.map(_._3).sum, all.map(_._4).sum)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(status)) -1.0
    else java.nio.file.Files.readAllLines(status).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  }
}

/** Per-layer numbers of each traced pass, from the listener records and
  * the benchmark's own spans that fall in the pass's time window.
  */
object Layers {
  def perPass(t: Trace, passes: Seq[Map[String, Any]], cores: Int): Seq[Map[String, Any]] = {
    val spans = t.spans.asScala.toSeq
    passes.filter(_("traced") == true).map { p =>
      val (lo, hi) = (p("start_ms").asInstanceOf[Double], p("end_ms").asInstanceOf[Double])
      val wall = p("wall_s").asInstanceOf[Double]
      def in(ms: Double) = lo <= ms && ms <= hi
      val sp = spans.filter(s => in(s.startMs))
      def spanS(layer: String) = sp.filter(_.layer == layer).map(s => s.endMs - s.startMs).sum / 1e3
      val builds = sp.filter(_.layer == "build")
      val jobs = t.jobs.asScala.toSeq.filter(j => in(j.startMs.toDouble))
      val tasks = t.tasks.asScala.toSeq.filter(x => in(x.endMs.toDouble))
      val stages = t.stages.asScala.toSeq.filter(x => in(x.endMs.toDouble))
      val qes = t.qes.asScala.toSeq.filter(_.phases.exists(x => in(x._2.toDouble)))
      val phases = qes.flatMap(_.phases).filter(x => in(x._2.toDouble))
      def phaseS(n: String) = phases.filter(_._1 == n).map(x => x._3 - x._2).sum / 1e3
      val batches = t.batches.asScala.toSeq.filter(b => in(b.endMs.toDouble))
      val batchMs = batches.map(_.durMs).sorted
      val runS = tasks.map(_.runMs).sum / 1e3
      Map[String, Any](
        "pass" -> p("index"),
        "build.s" -> spanS("build"),
        "build.jobs" -> jobs.count(j => builds.exists(b =>
          b.startMs <= j.startMs && j.startMs <= b.endMs)),
        // a job server runs the sink inside its workers, where the
        // benchmark has no action span: there the sink actions' own
        // durations (query-execution listener) stand in
        "action.s" -> (if (sp.exists(_.layer == "action")) spanS("action")
          else qes.map(_.durNs).sum / 1e9),
        "catalyst.analysis_s" -> phaseS("analysis"),
        "catalyst.optimization_s" -> phaseS("optimization"),
        "catalyst.planning_s" -> phaseS("planning"),
        "exec.jobs" -> jobs.size,
        "exec.stages" -> stages.size,
        "exec.tasks" -> tasks.size,
        "exec.single_task_stages" -> stages.count(_.tasks == 1),
        "exec.run_s" -> runS,
        "exec.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
        "exec.gc_s" -> tasks.map(_.gcMs).sum / 1e3,
        "exec.core_util" -> runS / (wall * cores),
        "exec.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum,
        "exec.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum,
        "exec.spill_bytes" -> tasks.map(_.spill).sum,
        "exec.peak_mem_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max / 1048576.0),
        "exec.sched_delay_s" -> tasks.map(_.schedDelayMs).sum / 1e3,
        "exec.failed_tasks" -> tasks.count(_.failed),
        "stream.batches" -> batches.size,
        "stream.input_rows" -> batches.map(_.rows).sum,
        "stream.rows_per_s" -> {
          val ms = batches.map(_.durMs).sum
          if (ms == 0) 0.0 else batches.map(_.rows).sum * 1000.0 / ms
        },
        "stream.batch_p95_ms" -> (if (batchMs.isEmpty) 0L
          else batchMs(math.min(batchMs.size - 1, math.ceil(0.95 * batchMs.size).toInt - 1))))
    }
  }
}
