package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Engine, SparkEntry, Tables}
import graft.pipeline.{Catalog, ReportingPipeline}

/** One run of one workload: set up several times, run a warm pass, then an
  * untimed pass that lets the JIT settle and writes every query result for
  * the correctness check, then the timed passes the requested seconds
  * buy (`Workloads.timedPasses`).
  * With tracing, half of the timed budget runs untraced, half traced, then
  * one more untraced pass, so the tracing overhead is measured against
  * untraced passes on both sides of the traced ones.
  * Writes `record.json` into the work directory; `run.py` checks the
  * results and prints the metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --fixtures DIR --work DIR --cores N */
object Main {

  private val setupRounds = 3

  private final case class Args(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, fixtures: String, work: File,
                                cores: Int)

  /** One op execution. `layers` is filled in traced passes only. */
  private final case class OpRun(name: String, wallS: Double, buildS: Double,
                                 actionS: Double, error: Option[String],
                                 layers: Option[OpLayers])

  private final case class PassRun(kind: String, ops: Seq[OpRun], oldGenAfterGcMb: Double) {
    def wallS: Double = ops.map(_.wallS).sum
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap
    def need(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fixtures"), new File(need("work")),
      need("cores").toInt)
  }

  /** The session a user of the engine gets. The warehouse and Spark local
    * directories come from JVM system properties that `run.py` sets. */
  private def newSession(a: Args): SparkSession = {
    val spark = Engine.local(a.cores, "graft-perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Old-generation MB in use right after the latest collection that
    * reached it (0 before the first one): the heap the session keeps alive
    * (caches, state, plans), not garbage awaiting collection. Read without
    * forcing a collection, so the timed passes run as they would anyway. */
  private def oldGenAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  private def files(root: File): Seq[File] =
    if (root.isDirectory)
      Option(root.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(files)
    else if (root.isFile) Seq(root) else Nil

  private def nowUs(): Long = System.currentTimeMillis() * 1000L

  /** Host-wide (steal, total) CPU ticks from /proc/stat; zeros elsewhere. A
    * rising steal share means another tenant had the cores. */
  private def cpuTicks(): (Long, Long) = try {
    val f = scala.io.Source.fromFile("/proc/stat")
    val t = try f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally f.close()
    (if (t.length > 7) t(7) else 0L, t.sum)
  } catch { case NonFatal(_) => (0L, 0L) }

  /** This process's (CPU seconds, GC seconds) so far. */
  private def processCost(): (Double, Double) = {
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }
    (cpu, ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sfDir = s"${a.fixtures}/${Workloads.scale(a.workload)}"
    val staging = new File(a.work, "staging")
    val batchDirs = Option(staging.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.isDirectory).map(_.getAbsolutePath).sorted
    val tablesRead = Workloads.tables(a.workload)

    // Set-up: a fresh session, then one resolution of every table the
    // workload reads. The first round, timed from JVM start, is `setup_s`;
    // the median session time over all rounds is `engine.session_s`.
    var spark: SparkSession = null
    var jvmToReadyS = 0.0
    val setups = (1 to setupRounds).map { round =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = newSession(a)
      val t1 = System.nanoTime()
      val loadMs = tablesRead.map { t =>
        val s = System.nanoTime()
        Tables.load(spark, sfDir, t)
        (System.nanoTime() - s) / 1e6
      }
      val t2 = System.nanoTime()
      if (round == 1) jvmToReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      Map("round_s" -> (t2 - t0) / 1e9, "session_s" -> (t1 - t0) / 1e9,
        "tables_load_ms" -> loadMs.sum / loadMs.size)
    }
    val ops = Workloads.ops(a.workload, a.fixtures, batchDirs, a.seed)
    val results = new File(a.work, "results")
    val scanDirs = Seq(new File(a.work, "warehouse"), new File(a.work, "tmp"))
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var nextSpan = 1L

    def runOp(op: Op, keepResult: Boolean, trace: Option[Trace]): OpRun = {
      val before = trace.map(_ => scanDirs.flatMap(files).map(_.getPath).toSet)
      val startUs = nowUs()
      val t0 = System.nanoTime()
      var t1 = t0
      val error = try {
        op match {
          case QueryOp(name, dir) =>
            val df = SparkEntry.queries(name)(spark, dir)
            t1 = System.nanoTime()
            if (keepResult) df.write.mode("overwrite")
              .parquet(new File(results, name).getAbsolutePath)
            else df.write.format("noop").mode("overwrite").save()
          case BatchOp(_, dir) =>
            ReportingPipeline.run(spark, dir)
            t1 = System.nanoTime()
        }
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[perfbench] ${op.name} failed: $e")
          Some(e.toString)
      }
      val t2 = System.nanoTime()
      val endUs = startUs + (t2 - t0) / 1000
      val buildUs = startUs + (t1 - t0) / 1000
      val layers = trace.map { tr =>
        val d = tr.take()
        val written = scanDirs.flatMap(files)
          .count(f => !before.get(f.getPath) && !f.getName.endsWith(".crc"))
        val opId = nextSpan
        val kids = op match {
          case _: QueryOp => Seq(Span(opId + 1, opId, "build", op.name, startUs, buildUs),
            Span(opId + 2, opId, "action", op.name, buildUs, endUs))
          case _: BatchOp => Nil
        }
        nextSpan += 1 + kids.size
        def parentOf(us: Long): Long =
          kids.find(k => us >= k.startUs && us <= k.endUs).map(_.id).getOrElse(opId)
        val jobSpans = d.jobs.map { j =>
          val s = Span(nextSpan, parentOf(j.startMs * 1000), "job",
            s"${j.id} ${j.callSite}", j.startMs * 1000, j.endMs * 1000)
          nextSpan += 1
          j -> s
        }
        val stageParent = jobSpans.flatMap { case (j, s) => j.stageIds.map(_ -> s.id) }.toMap
        val stageSpans = d.stages.map { st =>
          val s = Span(nextSpan, stageParent.getOrElse(st.id, opId), "stage",
            st.id.toString, st.startMs * 1000, st.endMs * 1000)
          nextSpan += 1
          s
        }
        spans += Span(opId, 0, "op", op.name, startUs, endUs)
        spans ++= kids ++= jobSpans.map(_._2) ++= stageSpans
        OpLayers.of(d, startUs / 1000, endUs / 1000, written)
      }
      OpRun(op.name, (t2 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, error, layers)
    }

    def runPass(kind: String, trace: Option[Trace]): PassRun = {
      // every ingest pass starts from an empty `rpt`, so each loads the same rows
      if (a.workload == "ingest") Catalog.drop(spark)
      val runs = ops.map { op =>
        val run = runOp(op, kind == "settle", trace)
        System.err.println(f"[perfbench] $kind%-6s ${op.name}%-28s ${run.wallS}%8.3f s")
        run
      }
      PassRun(kind, runs, oldGenAfterGcMb())
    }

    def phase(kind: String, seconds: Double, trace: Option[Trace]): Seq[PassRun] =
      (1 to Workloads.timedPasses(a.workload, seconds)).map(_ => runPass(kind, trace))

    val loadStart = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val warm = runPass("warm", None)
    // one execution per op leaves the JIT far from steady (timed passes kept
    // getting faster for five passes): a second, untimed pass settles it and
    // writes the results the correctness check reads
    val settle = runPass("settle", None)
    val (steal0, ticks0) = cpuTicks()
    val (cpu0, gc0) = processCost()
    val timedStart = System.nanoTime()
    val timed = phase("timed", if (a.trace) a.seconds / 2 else a.seconds, None)
    val timedS = (System.nanoTime() - timedStart) / 1e9
    val (cpu1, gc1) = processCost()
    val (steal1, ticks1) = cpuTicks()
    val traced = if (!a.trace) Nil else {
      val tr = new Trace(spark, a.fixtures)
      tr.register()
      try phase("traced", a.seconds / 2, Some(tr)) finally tr.unregister()
    }
    val untraced = if (a.trace) timed :+ runPass("timed", None) else timed
    // one forced collection, after the last timed pass, so the peak below
    // has a reading even when no collection reached the old generation
    System.gc()
    val peakLiveHeapMb = (oldGenAfterGcMb() +: (timed ++ traced ++ untraced)
      .map(_.oldGenAfterGcMb)).max
    val loadEnd = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    val rptBytes = files(new File(a.work, "warehouse/rpt.db")).map(_.length).sum
    val manifest = new File(staging, "manifest.json")
    val staged: Map[String, Any] =
      if (manifest.isFile) new ObjectMapper().registerModule(DefaultScalaModule)
        .readValue(manifest, classOf[Map[String, Any]])
      else Map.empty
    val stagedRows = staged.get("rows").map(_.toString.toDouble).getOrElse(0.0)
    val stagedBytes = staged.get("bytes").map(_.toString.toDouble).getOrElse(0.0)

    val metrics = Metrics.endToEnd(jvmToReadyS, warm.wallS,
      timed.map(_.wallS), timed.flatMap(_.ops).filter(isMeasuredOp(a.workload)).map(_.wallS),
      stagedRows, stagedBytes, rptBytes.toDouble,
      if (batchDirs.isEmpty) Nil
      else timed.map(_.ops.filter(_.name.startsWith("pipeline_batch")).map(_.wallS).sum))
    val layers =
      if (!a.trace) Map.empty[String, Double]
      else Metrics.perLayer(traced.flatMap(_.ops).flatMap(o => o.layers.map(o.name -> _)),
        traced.flatMap(_.ops).collect { case o if !o.name.startsWith("pipeline_batch") =>
          (o.buildS, o.actionS) },
        setups.map(_("session_s")), setups.map(_("tables_load_ms")), peakLiveHeapMb,
        stagedRows / batchDirs.size.max(1), stagedBytes, rptBytes.toDouble,
        Stats.median(untraced.map(_.wallS)), Stats.median(traced.map(_.wallS)), a.cores)

    def opJson(o: OpRun): Map[String, Any] = Map("name" -> o.name, "wall_s" -> o.wallS,
      "build_s" -> o.buildS, "action_s" -> o.actionS, "error" -> o.error.orNull) ++
      o.layers.map(l => Map("layers" -> l.asMap)).getOrElse(Map.empty)
    def passJson(p: PassRun): Map[String, Any] = Map("kind" -> p.kind,
      "wall_s" -> p.wallS, "old_gen_after_gc_mb" -> p.oldGenAfterGcMb,
      "ops" -> p.ops.map(opJson))

    val record = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "scale" -> Workloads.scale(a.workload),
      "order" -> ops.map(_.name),
      "peak_live_heap_mb" -> peakLiveHeapMb,
      "setups" -> setups,
      "contention" -> Map("loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "timed_cpu_util" -> (cpu1 - cpu0) / (timedS * a.cores),
        "timed_gc_s" -> (gc1 - gc0),
        "timed_steal_frac" ->
          (if (ticks1 > ticks0) (steal1 - steal0).toDouble / (ticks1 - ticks0) else 0.0),
        "op_spread_median" -> Metrics.opSpread((timed ++ traced).flatMap(_.ops)
          .map(o => o.name -> o.wallS))),
      "metrics" -> metrics,
      "layers" -> layers,
      "span_self_s" -> {
        val self = Stats.selfTimeUs(spans.toSeq)
        spans.groupBy(_.kind).map { case (k, ss) => k -> ss.map(sp => self(sp.id)).sum / 1e6 }
      },
      "passes" -> (Seq(warm, settle) ++ timed ++ traced ++ untraced.drop(timed.size))
        .map(passJson),
      "query_outputs" -> ops.collect { case q: QueryOp => q.name }.distinct,
      "oracle_sql" -> {
        val oracles = SparkEntry.oracleSql
        ops.collect { case q: QueryOp => q.name -> oracles.get(q.name).orNull }.toMap
      })
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(new File(a.work, "record.json"), record)
    if (a.trace) {
      val w = new java.io.PrintWriter(new File(a.work, "spans.jsonl"))
      try spans.foreach(s => w.println(mapper.writeValueAsString(Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs))))
      finally w.close()
    }
    spark.stop()
  }

  /** The ops `op_p50_s` is taken over: every query op, except on `ingest`,
    * where it is the pipeline batches. */
  private def isMeasuredOp(workload: String)(o: OpRun): Boolean =
    workload != "ingest" || o.name.startsWith("pipeline_batch")
}
