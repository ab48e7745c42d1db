package perfbench

/** The per-layer split shared by every workload: Catalyst phases,
  * scheduling and executor work, read off a drained [[LayerListener]]. All
  * sums are divided by `passes`, so each figure is "per measured pass". */
object Layers {

  def split(l: LayerListener, execWindowsMs: Seq[(Long, Long)], passes: Int): Map[String, Double] =
    l.synchronized {
      val n = passes.toDouble
      val t = l.tasks.toSeq
      // Busiest task's share of each scanning stage's input records,
      // weighted by the stage's records (1.0 = one task read it all).
      val scanStages = t.filter(_.recordsIn > 0).groupBy(_.stageId).values
      val scanRecords = scanStages.map(_.map(_.recordsIn).sum).sum
      val busiest = scanStages.map(_.map(_.recordsIn).max).sum
      Map(
        "catalyst.analysis_s" -> l.phases("analysis") / n,
        "catalyst.optimization_s" -> l.phases("optimization") / n,
        "catalyst.planning_s" -> l.phases("planning") / n,
        "sched.jobs" -> l.jobs.size / n,
        "sched.stages" -> l.stages.size / n,
        "sched.tasks" -> t.size / n,
        "sched.delay_s" -> t.map(_.delayMs).sum / 1e3 / n,
        "sched.idle_s" -> LayerListener.idleMs(execWindowsMs, t) / 1e3 / n,
        "exec.run_s" -> t.map(_.runMs).sum / 1e3 / n,
        "exec.cpu_s" -> t.map(_.cpuNs).sum / 1e9 / n,
        "exec.gc_s" -> t.map(_.gcMs).sum / 1e3 / n,
        "exec.peak_mem_bytes" -> (if (t.isEmpty) 0.0 else t.map(_.peakMem).max.toDouble),
        "scan.records_in" -> t.map(_.recordsIn).sum / n,
        "scan.bytes_in" -> l.scanFileBytes / n,
        "scan.busiest_task_share" -> (if (scanRecords == 0) 0.0 else busiest.toDouble / scanRecords),
        "shuffle.write_bytes" -> t.map(_.shuffleWrite).sum / n,
        "shuffle.read_bytes" -> t.map(_.shuffleRead).sum / n,
        "spill.bytes" -> t.map(_.spill).sum / n)
    }

  def windowsMs(spans: Seq[Span]): Seq[(Long, Long)] =
    spans.map(s => (s.startNs / 1000000L, s.endNs / 1000000L))

  /** Every per-layer metric name; a workload reports 0 for a layer it
    * never enters (the query workloads have no pipeline). */
  val QueryLayers: Seq[String] = Seq(
    "queries.build_s", "queries.build_jobs", "tables.load_s", "tables.load_jobs")
  val PipelineLayers: Seq[String] = Seq(
    "pipeline.export.request_s", "pipeline.export.request_calls", "pipeline.export.poll_calls",
    "pipeline.read_count_s", "pipeline.sink.load_s", "sink.bytes_written", "sink.files_written",
    "pipeline.parse_passes", "pipeline.chain_overlap", "pipeline.checkpoint.lookup_s",
    "pipeline.checkpoint.lookup_calls", "pipeline.checkpoint.append_s",
    "pipeline.checkpoint.append_calls", "pipeline.checkpoint.files", "pipeline.notify_calls",
    "pipeline.rerun_s", "pipeline.stored_bytes_ratio")

  def zeros(names: Seq[String]): Map[String, Double] = names.map(_ -> 0.0).toMap
}
