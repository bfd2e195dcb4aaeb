package perfbench

import Trace.Job

/** Reduces a drained [[Trace]] to the benchmark's per-layer metrics. */
object Report {

  /** A table or key in flight: from the benchmark's call (or `load(t)`)
    * until its last output was written. Epoch ms. */
  final case class Window(tag: String, start: Long, end: Long)

  /** One Runner.run call: its window, and for each table it returned the
    * time its metadata file was last written (0 when missing). */
  final case class RunnerCall(start: Long, end: Long, metaDone: Map[String, Long])

  /** The table or key each job served. A job carries the tag of the thread
    * that submitted it; the engine also submits jobs from threads of its
    * own (the shared fork-join pool of `ScanMetrics`), which keep the tag
    * they were created under. A tag is therefore trusted only while its
    * table or key is in flight; otherwise the job goes to the one window
    * in flight when it started, and stays unattributed when several are. */
  def attribute(jobs: Seq[Job], windows: Seq[Window]): Map[Int, Option[String]] =
    jobs.map { j =>
      val live = windows.filter(w => j.start >= w.start && j.start <= w.end).map(_.tag).distinct
      j.id -> j.tag.filter(live.contains).orElse(if (live.size == 1) live.headOption else None)
    }.toMap

  /** Per-table windows of Runner calls: from `load(t)` until t's metadata
    * upsert finished (or the call returned). */
  def tableWindows(spans: Seq[Trace.Span], calls: Seq[RunnerCall]): Seq[Window] =
    for {
      c <- calls
      (t, done) <- c.metaDone.toSeq
      load <- spans.find(s => s.layer == "catalog" && s.tag == t && s.start >= c.start && s.end <= c.end)
    } yield Window(t, load.start, if (done >= load.start) done else c.end)

  def perLayer(
      trace: Trace,
      regionStart: Long,
      regionEnd: Long,
      cores: Int,
      meters: Main.Meters,
      calls: Seq[RunnerCall],
      keyWindows: Seq[Window],
      sinkFiles: Long,
      peakRssMb: Double): Map[String, Double] = {
    val stages = trace.stages
    val jobs = trace.traceJobs
    val spans = trace.spans
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def secs(ms: Long) = ms / 1e3

    for (layer <- Layers.StageLayers :+ Layers.Other) {
      val ss = stages.filter(_.job.layer == layer)
      val intervals = ss.map(s => s.start -> s.end) ++
        spans.filter(_.layer == layer).map(s => s.start -> s.end)
      val wall = secs(Trace.unionLength(intervals))
      val run = secs(ss.map(_.runMs).sum)
      out ++= Seq(
        s"$layer.wall_s" -> wall,
        s"$layer.jobs" -> jobs.count(_.layer == layer).toDouble,
        s"$layer.stages" -> ss.size.toDouble,
        s"$layer.tasks" -> ss.map(_.tasks.toLong).sum.toDouble,
        s"$layer.run_s" -> run,
        s"$layer.cpu_s" -> ss.map(_.cpuNs).sum / 1e9,
        s"$layer.core_util" -> (if (wall > 0) run / (wall * cores) else 0.0),
        s"$layer.input_bytes" -> ss.map(_.inputBytes).sum.toDouble,
        s"$layer.shuffle_write_bytes" -> ss.map(_.shuffleWrite).sum.toDouble,
        s"$layer.shuffle_read_bytes" -> ss.map(_.shuffleRead).sum.toDouble,
        s"$layer.gc_s" -> secs(ss.map(_.gcMs).sum))
    }

    val tables = tableWindows(spans, calls)
    // the metadata upsert runs no job: its time is the tail from the end of
    // the table's parquet-sink job (submitted on the tagged Runner thread)
    // to the metadata file's write
    val metaMs = tables.map { w =>
      stages.filter(s => s.job.layer == "sink" && s.job.tag.contains(w.tag) &&
        s.end >= w.start && s.end <= w.end).map(_.end).maxOption
        .fold(0L)(sinkEnd => w.end - sinkEnd)
    }.sum
    val spansS = tables.map(w => secs(w.end - w.start)).sorted
    val runnerWall = secs(calls.map(c => c.end - c.start).sum)
    out ++= Seq(
      "sink.output_bytes" -> stages.filter(_.job.layer == "sink").map(_.outputBytes).sum.toDouble,
      "sink.files" -> sinkFiles.toDouble,
      "sink.meta_s" -> secs(metaMs),
      "runner.table_p50_s" -> (if (spansS.isEmpty) 0.0 else spansS(spansS.size / 2)),
      "runner.table_max_s" -> spansS.lastOption.getOrElse(0.0),
      "runner.concurrency" -> (if (runnerWall > 0) spansS.sum / runnerWall else 0.0))

    val busy = stages.map(s => math.max(s.start, regionStart) -> math.min(s.end, regionEnd))
    val totalRun = stages.map(_.runMs).sum
    out ++= Seq(
      "driver.no_stage_s" -> secs(regionEnd - regionStart - Trace.unionLength(busy)),
      "driver.plan_s" -> trace.planSeconds,
      "driver.codegen_compiles" -> meters.codegenCompiles.toDouble,
      "driver.result_bytes" -> stages.map(_.resultBytes).sum.toDouble,
      "jvm.gc_s" -> meters.gcSeconds,
      "jvm.heap_peak_mb" -> meters.heapPeakMb,
      "jvm.peak_rss_mb" -> peakRssMb)
    val keyWalls = keyWindows.map(w => w.tag -> secs(w.end - w.start)).toMap
    Main.CurationKeys.foreach(k => out += s"ops.$k.wall_s" -> keyWalls.getOrElse(k, 0.0))
    val owner = attribute(jobs, tables ++ keyWindows)
    out ++= Seq(
      "trace.other_run_frac" ->
        (if (totalRun > 0) stages.filter(_.job.layer == Layers.Other).map(_.runMs).sum.toDouble / totalRun
         else 0.0),
      "trace.unattributed_jobs" -> owner.values.count(_.isEmpty).toDouble)
    out.toMap
  }
}
