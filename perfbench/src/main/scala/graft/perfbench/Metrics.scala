package graft.perfbench

/** Layer counters of one traced op, derived from what the listeners
  * delivered during it. Times in seconds unless the name says ms. */
final case class OpLayers(wallS: Double, jobActiveS: Double, jobs: Int, stages: Int,
                          tasks: Long, taskRunS: Double, taskCpuS: Double, gcS: Double,
                          shuffleReadMb: Double, shuffleWriteMb: Double,
                          fetchWaitS: Double, spillDiskMb: Double, writeMb: Double,
                          recordsWritten: Long, filesWritten: Int, actions: Int,
                          analysisMs: Double, optimizationMs: Double, planningMs: Double,
                          tableScans: Int, streamBatches: Int, streamPlanMs: Double,
                          streamAddBatchMs: Double, watermarkS: Double, loadS: Double,
                          stageSkewMax: Double) {
  def driverOnlyS: Double = wallS - jobActiveS

  def asMap: Map[String, Any] = Map(
    "wall_s" -> wallS, "job_active_s" -> jobActiveS, "driver_only_s" -> driverOnlyS,
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_run_s" -> taskRunS,
    "task_cpu_s" -> taskCpuS, "gc_s" -> gcS, "shuffle_read_mb" -> shuffleReadMb,
    "shuffle_write_mb" -> shuffleWriteMb, "fetch_wait_s" -> fetchWaitS,
    "spill_disk_mb" -> spillDiskMb, "write_mb" -> writeMb,
    "records_written" -> recordsWritten, "files_written" -> filesWritten,
    "actions" -> actions, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "table_scans" -> tableScans, "stream_batches" -> streamBatches,
    "stream_plan_ms" -> streamPlanMs, "stream_add_batch_ms" -> streamAddBatchMs,
    "watermark_s" -> watermarkS, "load_s" -> loadS, "stage_skew_max" -> stageSkewMax)
}

object OpLayers {
  private def unionS(jobs: Seq[JobRec], lo: Long, hi: Long): Double =
    Stats.unionLength(jobs.map(j => (j.startMs, j.endMs)), lo, hi) / 1e3

  /** `startMs`/`endMs` bound the op; job time outside it is not the op's. */
  def of(d: Delivered, startMs: Long, endMs: Long, filesWritten: Int): OpLayers = {
    val st = d.stages
    def sum(f: StageRec => Long): Long = st.map(f).sum
    def site(file: String) = d.jobs.filter(_.callSite.contains(file))
    OpLayers(
      wallS = (endMs - startMs) / 1e3,
      jobActiveS = unionS(d.jobs, startMs, endMs),
      jobs = d.jobs.size, stages = st.size, tasks = st.map(_.tasks.toLong).sum,
      taskRunS = sum(_.taskRunMs) / 1e3, taskCpuS = sum(_.taskCpuNs) / 1e9,
      gcS = sum(_.gcMs) / 1e3,
      shuffleReadMb = sum(_.shuffleReadBytes) / 1e6,
      shuffleWriteMb = sum(_.shuffleWriteBytes) / 1e6,
      fetchWaitS = sum(_.fetchWaitMs) / 1e3, spillDiskMb = sum(_.diskSpillBytes) / 1e6,
      writeMb = sum(_.bytesWritten) / 1e6, recordsWritten = sum(_.recordsWritten),
      filesWritten = filesWritten, actions = d.actions.size,
      analysisMs = d.actions.map(_.analysisMs).sum.toDouble,
      optimizationMs = d.actions.map(_.optimizationMs).sum.toDouble,
      planningMs = d.actions.map(_.planningMs).sum.toDouble,
      tableScans = d.actions.map(_.tableScans).sum,
      streamBatches = d.streamBatches, streamPlanMs = d.streamPlanMs.toDouble,
      streamAddBatchMs = d.streamAddBatchMs.toDouble,
      watermarkS = unionS(site("Watermark.scala"), startMs, endMs),
      loadS = unionS(site("Loader.scala"), startMs, endMs),
      stageSkewMax = (0.0 +: st.filter(_.tasks > 1)
        .map(s => s.taskMsMax / math.max(s.taskMsMedian, 1.0))).max)
  }
}

/** The metrics a run reports, by the names `BENCHMARK.json` declares. */
object Metrics {

  /** End-to-end metrics of the untraced run. `setupS` runs from JVM start
    * until the first session is ready and every table resolved; `opWalls`
    * are the samples behind `op_p50_s`/`op_p90_s`; `batchSecondsPerPass` is
    * each timed pass's pipeline batch time, empty when the workload has no
    * pipeline. */
  def endToEnd(setupS: Double, coldWallS: Double,
               passWallS: Seq[Double], opWalls: Seq[Double],
               stagedRowsPerPass: Double, stagedBytes: Double, rptBytes: Double,
               batchSecondsPerPass: Seq[Double]): Map[String, Any] = {
    def m(v: Double, unit: String, n: Int) = Map("value" -> v, "unit" -> unit, "n" -> n)
    val base = Map(
      "setup_s" -> m(setupS, "s", 1),
      "cold_wall_s" -> m(coldWallS, "s", 1),
      "wall_s" -> m(Stats.median(passWallS), "s", passWallS.size),
      "op_p50_s" -> m(Stats.median(opWalls), "s", opWalls.size))
    val tail = Stats.percentile(opWalls, 0.9)
      .map(v => Map("op_p90_s" -> m(v, "s", opWalls.size))).getOrElse(Map.empty)
    val ingest = if (batchSecondsPerPass.isEmpty) Map.empty else Map(
      "ingest_rows_per_s" -> m(stagedRowsPerPass / Stats.median(batchSecondsPerPass),
        "1/s", batchSecondsPerPass.size),
      "stored_bytes_per_input_byte" -> m(rptBytes / stagedBytes, "ratio", 1))
    base ++ tail ++ ingest
  }

  /** Median over ops of each op's largest/smallest wall across passes: near
    * 1 on a quiet host, well above it when something else took the cores. */
  def opSpread(samples: Seq[(String, Double)]): Double = {
    val spreads = samples.groupBy(_._1).values.map(_.map(_._2)).filter(_.size > 1)
      .map(ts => ts.max / math.max(ts.min, 1e-9)).toSeq
    if (spreads.isEmpty) 1.0 else Stats.median(spreads)
  }

  /** Per-layer metrics of the traced passes, per op unless named otherwise.
    * A layer the workload never reaches reads 0. */
  def perLayer(ops: Seq[(String, OpLayers)], buildAction: Seq[(Double, Double)],
               sessionS: Seq[Double], tablesLoadMs: Seq[Double], peakLiveHeapMb: Double,
               stagedRowsPerBatch: Double, stagedBytes: Double, rptBytes: Double,
               untracedWallS: Double, tracedWallS: Double, cores: Int): Map[String, Double] = {
    val ls = ops.map(_._2)
    val batches = ops.collect { case (n, l) if n.startsWith("pipeline_batch") => l }
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOp(f: OpLayers => Double): Double = mean(ls.map(f))
    val batchesRun = batches.size
    val rowsStaged = stagedRowsPerBatch * batchesRun
    val rowsAppended = batches.map(_.recordsWritten.toDouble).sum
    val streamBatches = ls.map(_.streamBatches).sum
    Map(
      "engine.session_s" -> Stats.median(sessionS),
      "jvm.peak_live_heap_mb" -> peakLiveHeapMb,
      "tables.load_ms" -> Stats.median(tablesLoadMs),
      "tables.scans_per_op" -> perOp(_.tableScans),
      "catalyst.actions_per_op" -> perOp(_.actions),
      "catalyst.analysis_ms_per_op" -> perOp(_.analysisMs),
      "catalyst.optimization_ms_per_op" -> perOp(_.optimizationMs),
      "catalyst.planning_ms_per_op" -> perOp(_.planningMs),
      "queries.build_s" -> mean(buildAction.map(_._1)),
      "queries.action_s" -> mean(buildAction.map(_._2)),
      "exec.job_active_s" -> perOp(_.jobActiveS),
      "exec.driver_only_s" -> perOp(_.driverOnlyS),
      "exec.jobs_per_op" -> perOp(_.jobs),
      "exec.stages_per_op" -> perOp(_.stages),
      "exec.tasks_per_op" -> perOp(_.tasks.toDouble),
      "exec.task_run_s" -> perOp(_.taskRunS),
      "exec.task_cpu_s" -> perOp(_.taskCpuS),
      "exec.core_util" -> (if (ls.isEmpty) 0.0
        else ls.map(_.taskRunS).sum / (ls.map(_.wallS).sum * cores)),
      "exec.gc_s" -> perOp(_.gcS),
      "exec.stage_skew_max" -> (0.0 +: ls.map(_.stageSkewMax)).max,
      "shuffle.write_mb" -> perOp(_.shuffleWriteMb),
      "shuffle.read_mb" -> perOp(_.shuffleReadMb),
      "shuffle.fetch_wait_s" -> perOp(_.fetchWaitS),
      "spill.disk_mb" -> perOp(_.spillDiskMb),
      "write.mb_per_op" -> perOp(_.writeMb),
      "write.files_per_op" -> perOp(_.filesWritten),
      "write.stored_bytes_per_input_byte" ->
        (if (stagedBytes > 0) rptBytes / stagedBytes else 0.0),
      "streaming.batches_per_op" -> perOp(_.streamBatches),
      "streaming.plan_ms_per_batch" ->
        (if (streamBatches == 0) 0.0 else ls.map(_.streamPlanMs).sum / streamBatches),
      "streaming.add_batch_ms_per_batch" ->
        (if (streamBatches == 0) 0.0 else ls.map(_.streamAddBatchMs).sum / streamBatches),
      "pipeline.rows_staged" -> (if (batchesRun == 0) 0.0 else rowsStaged / batchesRun),
      "pipeline.rows_appended" -> (if (batchesRun == 0) 0.0 else rowsAppended / batchesRun),
      "pipeline.append_ratio" -> (if (rowsStaged == 0) 0.0 else rowsAppended / rowsStaged),
      "pipeline.watermark_s" -> mean(batches.map(_.watermarkS)),
      "pipeline.load_s" -> mean(batches.map(_.loadS)),
      "pipeline.rows_per_s" ->
        (if (batchesRun == 0) 0.0 else rowsStaged / batches.map(_.wallS).sum),
      "trace.overhead_frac" -> (tracedWallS / untracedWallS - 1))
  }
}
