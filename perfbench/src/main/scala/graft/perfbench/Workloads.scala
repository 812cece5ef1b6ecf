package graft.perfbench

/** One timed unit of work. A query op builds a declared query's DataFrame
  * and materializes every output column; a batch op is one incremental
  * `ReportingPipeline.run` over one batch of staged JSON. */
sealed trait Op { def name: String }
final case class QueryOp(name: String, sfDir: String) extends Op
final case class BatchOp(name: String, stagingDir: String) extends Op

/** The workloads. Each stresses different layers, so a gain on one can be
  * checked for a loss on the other. */
object Workloads {

  val names: Seq[String] = Seq("interactive", "ingest")

  /** Declared queries under 0.5 s warm at local[4], sf0.1, with every output
    * column materialized (noop sink). Frozen: a later change must not move
    * a query in or out because it got faster or slower. The list is a
    * fixed, family-spread subset of all such queries, small enough that the
    * set-up, the warm pass, several timed passes and the oracle check of
    * one run fit the benchmark's time budget. */
  val interactive: Seq[String] = Seq(
    "q_scan_project", "q_agg_having", "q_anti_join", "q_window_lag",
    "q_topk_rewrite", "q_tpch_q6", "t_quality", "t_langid", "m_wav_stats",
    "v_quantize_int8", "d_simhash")

  /** Partitioned rewrites and micro-batch replays that run beside the
    * pipeline batches in `ingest`. */
  val ingestQueries: Seq[String] = Seq("p_backfill", "s_sessionize_timeout")

  /** The fixture tables the workload's queries read, resolved in set-up. */
  def tables(workload: String): Seq[String] = workload match {
    case "interactive" => graft.Tables.names
    case "ingest" => Seq("events")
  }

  /** Seconds one timed pass of the workload took at local[4] when the
    * benchmark was written. */
  private val nominalPassS = Map("interactive" -> 3.5, "ingest" -> 8.5)

  /** The timed passes `seconds` buy: a count fixed by the workload, not by
    * how fast this run goes. Timed passes still get faster for several
    * passes, so a count that grows with speed would sit further up the
    * warm-up curve on a fast run and amplify both host noise and gains. */
  def timedPasses(workload: String, seconds: Double): Int =
    math.max(1, math.round(seconds / nominalPassS(workload)).toInt)

  /** Fixture scale each workload's queries read. */
  def scale(workload: String): String = workload match {
    case "interactive" => "sf0.1"
    case "ingest" => "sf0.01"
  }

  /** The workload's ops. `interactive` runs in the order the seed picks.
    * `ingest` runs in the order an ELT run has: the batches (each depends on
    * the tables the previous one left), then the partitioned rewrite, then
    * the replay; there the seed only generates the staged data. The replay
    * after `p_backfill` took up to 1.7x as long as after the batches, so a
    * seed-picked order would make the seed, not the engine, set the time. */
  def ops(workload: String, fixtures: String, stagingBatches: Seq[String],
          seed: Long): Seq[Op] = {
    val sfDir = s"$fixtures/${scale(workload)}"
    workload match {
      case "interactive" =>
        new scala.util.Random(seed).shuffle(interactive.map(QueryOp(_, sfDir)))
      case "ingest" =>
        val batches = stagingBatches.zipWithIndex.map { case (dir, i) =>
          BatchOp(s"pipeline_batch_${i + 1}", dir)
        }
        batches ++ ingestQueries.map(QueryOp(_, sfDir))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${names.mkString(", ")}")
    }
  }
}
