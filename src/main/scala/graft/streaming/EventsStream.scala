package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Structured Streaming surface over the `events` table — the streaming twin
  * of the reference's hand-rolled batch-incremental watermark pattern
  * (SURVEY.md §2B Streaming): `withWatermark` + windowed/session aggregation
  * replaces MAX(start_date)-and-filter; `dropDuplicatesWithinWatermark`
  * replaces the PK anti-join, with bounded state instead of a full target
  * scan.
  *
  * File-source streaming over the driver parquet gives a deterministic
  * one-batch replay for tests/verification; the same plans run unchanged
  * against a real continuous source (kafka/files) at scale, where the
  * watermark bounds state size — the property that makes these operators
  * viable on an unbounded 100 TB/day stream.
  */
object EventsStream {

  /** Streaming read of the events parquet. ts is parquet TIMESTAMP(NANOS)
    * (read as ns Long, see Tables.load) → truncated to µs TimestampType. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val physical = spark.read.parquet(path).schema
    // events.parquet is a single FILE in the driver testdata but a
    // DIRECTORY of part files in gen_scale.py corpora (the sf1 gate found
    // the single-layout glob reading ZERO files there — an empty stream,
    // not an error). The file streaming source wants a directory either
    // way; point it at the right one with the right glob.
    val raw =
      if (new java.io.File(path).isDirectory)
        spark.readStream.schema(physical)
          .option("pathGlobFilter", "*.parquet").parquet(path)
      else
        spark.readStream.schema(physical)
          .option("pathGlobFilter", "events.parquet").parquet(dir)
    if (physical("ts").dataType == LongType)
      raw.withColumn("ts", timestamp_micros(graft.Tables.nsFloorToMicros))
    else raw
  }

  /** Tumbling 1-hour counts + exact decimal sums per event type.
    * Decimal accumulation, DOUBLE output (see Core's determinism contract:
    * DECIMAL output columns break the driver's pandas canonicalization). */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_ts"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding 1-hour windows every 15 minutes: each event lands in 4
    * overlapping windows (Spark's epoch-aligned window grid). Decimal
    * accumulation, DOUBLE output, like hourlyAgg. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessionization via session_window (30-minute gap). */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"))

  /** Stream-stream join: each click joined to the same user's errors
    * within the following `windowSec` seconds. Both sides carry watermarks
    * so join state is evicted by event time — the unbounded-input-safe form
    * of the batch range join.
    *
    * `joinType` "left_outer" additionally emits clicks that found NO error,
    * with a null error_id — but only once the joint watermark passes the
    * click's match window (the row might still match until then), so
    * unmatched results trail the stream by watermark delay + windowSec:
    * exactly-once outer semantics on unbounded input (LeftOuterJoinSpec). */
  def clickErrorJoin(clicks: DataFrame, errors: DataFrame, windowSec: Long,
                     joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val e = errors
      .select(col("user_id").as("e_user_id"), col("event_id").as("error_id"),
        col("ts").as("error_ts"))
      .withWatermark("error_ts", "1 hour")
    c.join(e,
      col("user_id") === col("e_user_id")
        && col("error_ts") >= col("click_ts")
        && col("error_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
      // right_outer/full_outer rows with no click side carry a null
      // user_id on the click side — surface the key from whichever side
      // survived (a no-op for inner/left_outer, where the click side is
      // always present)
      .select(coalesce(col("user_id"), col("e_user_id")).as("user_id"),
        col("click_id"), col("error_id"))
  }

  /** Stream-static enrichment: each event picks up its key's dimension
    * attributes from a batch table. The dim side broadcasts, so the
    * streaming side carries NO state at all — every micro-batch joins
    * against the snapshot; the standard dimension-enrichment shape, safe on
    * an unbounded stream at any scale. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey))

  /** Stateful stream dedup on event_id, state bounded by the watermark. */
  def dedupByEventId(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Continuous load into a managed table via foreachBatch → the batch
    * dedup loader: the streaming twin of the reference's staged load path.
    * Each micro-batch runs the same insert-if-absent anti-join the batch
    * pipeline uses, so restarts/replays cannot duplicate PK'd rows —
    * end-to-end idempotence from a possibly-at-least-once source. */
  def streamIntoTable(events: DataFrame, table: String,
                      pkCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.pipeline.Loader.dedupAppend(batch.sparkSession, batch, table, pkCols)
      }
      .start()

  /** Stream into a JDBC reporting database with at-least-once-safe
    * idempotence — the reference's end state (Postgres reporting tables)
    * fed continuously instead of by batch DAG runs: every micro-batch
    * insert-if-absents on the PK via [[graft.pipeline.JdbcSink.dedupAppend]],
    * so source replays and batch retries cannot duplicate rows. */
  def streamIntoJdbc(events: DataFrame, url: String, table: String,
                     pkCols: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.pipeline.JdbcSink.dedupAppend(batch.sparkSession, batch, url,
          table, pkCols)
      }
      .start()

  /** Replay the events table as a MULTI-batch stream: the rows are split
    * into `nChunks` time-ordered parquet files (chunk i holds the i-th slice
    * of the event-time range) plus two far-future sentinel rows
    * (user_id = -1), and read back with `maxFilesPerTrigger = 1` so each
    * file is its own micro-batch in event-time order.
    *
    * This is the harness that lets TIMEOUT-driven state machines be
    * oracle-gated: timeouts only fire across batch boundaries, and the
    * sentinels advance the event-time watermark past every real session's
    * deadline, so by the final batch all keyed state has been flushed and
    * the append-mode drain equals the batch formulation. Because the split
    * is by event time, no row is ever late relative to the watermark
    * (batch k's minimum exceeds batch k-1's maximum = the watermark), so a
    * 0-second watermark delay loses nothing and the replay is
    * deterministic regardless of how the driver partitions the parquet.
    * File order is pinned with explicit increasing mtimes (the file
    * source's ordering key). */
  /** `sentinelBatches` controls how many far-future watermark-driver
    * batches trail the real chunks: 2 drains ONE stateful layer (lift the
    * watermark, then fire the eviction scan); every additional CHAINED
    * stateful operator adds one batch of flush latency — its input only
    * arrives when the upstream layer evicts — so a query with k stateful
    * layers needs k+1 sentinels to flush end to end (s_session_hourly: 3). */
  def readEventsChunkedReplay(spark: SparkSession, dir: String,
                              nChunks: Int,
                              sentinelBatches: Int = 2): DataFrame = {
    import spark.implicits._
    val batch = graft.Tables.load(spark, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id").cast("long").as("user_id"), col("ts"))
    stageChunkedReplay(spark, batch, nChunks, maxUs =>
      (1 to sentinelBatches).map(j => Seq((-1L,
        new java.sql.Timestamp(maxUs / 1000L + j * 10 * 86400000L)))
        .toDF("user_id", "ts")))._3
  }

  /** Value-carrying chunked replay (ts, event_type, value) for STATELESS
    * foreachBatch consumers — no watermark state to flush, so no sentinel
    * batches: exactly `nChunks` micro-batches in event-time order. */
  def readEventsChunkedReplayValue(spark: SparkSession, dir: String,
                                   nChunks: Int): DataFrame = {
    val batch = graft.Tables.load(spark, dir, "events")
      .filter(col("ts").isNotNull)
      .select(col("ts"), col("event_type"), col("value"))
    stageChunkedReplay(spark, batch, nChunks, _ => Seq.empty)._3
  }

  /** Full-column variant of [[readEventsChunkedReplay]] for multi-INPUT
    * stateful queries: keeps (event_id, ts, user_id, event_type) so the
    * replayed stream can be filtered into several sides of a join. Each
    * sentinel batch therefore carries one far-future row PER event type a
    * consumer might filter on ('click' and 'error') — a stream-stream
    * join's watermark is the min over BOTH its watermark nodes, so a
    * sentinel that advanced only one side would never move the joint
    * watermark and outer-join null emissions would sit in state forever. */
  def readEventsChunkedReplayFull(spark: SparkSession, dir: String,
                                  nChunks: Int): DataFrame = {
    val (path, schema) = stageEventsChunkedReplayFull(spark, dir, nChunks)
    readStagedReplay(spark, path, schema)
  }

  /** Stage the full-column replay ONCE and return (path, schema): a
    * multi-input query (e.g. both sides of a stream-stream join) opens
    * two independent [[readStagedReplay]] sources over the same staged
    * files instead of paying the chunk-staging write twice. */
  def stageEventsChunkedReplayFull(spark: SparkSession, dir: String,
      nChunks: Int): (String, org.apache.spark.sql.types.StructType) = {
    import spark.implicits._
    val batch = graft.Tables.load(spark, dir, "events")
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("event_id").cast("long").as("event_id"), col("ts"),
        col("user_id").cast("long").as("user_id"), col("event_type"))
    val staged = stageChunkedReplay(spark, batch, nChunks, maxUs =>
      Seq(10, 20).zipWithIndex.map { case (days, j) =>
        val far = new java.sql.Timestamp(maxUs / 1000L + days * 86400000L)
        Seq((-1L - 2 * j, far, -1L, "click"),
            (-2L - 2 * j, far, -1L, "error"))
          .toDF("event_id", "ts", "user_id", "event_type")
      })
    (staged._1, staged._2)
  }

  /** One-file-per-trigger streaming read over a staged replay dir. */
  def readStagedReplay(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(path)

  /** Shared staging for the chunked replays: slice `batch` into `nChunks`
    * event-time-ordered parquet files plus the given sentinel batches,
    * pinned to increasing synthetic mtimes, and stream them back one file
    * per trigger. `sentinels(maxUs)` returns one DataFrame per extra
    * sentinel micro-batch, schema-identical to `batch`.
    *
    * Row order: chunks (micro-batches) follow event time, but rows inside
    * a chunk come in shuffle-fetch order, not the table's scan order —
    * consumers must not depend on the order of rows within one batch.
    *
    * Only the returned `stream/` dir stays on disk (the streaming
    * DataFrame reads it); the intermediate `chunks/` and `stage_i/` write
    * dirs are deleted once their files have moved. */
  private def stageChunkedReplay(spark: SparkSession, batch: DataFrame,
      nChunks: Int, sentinels: Long => Seq[DataFrame]): (String,
      org.apache.spark.sql.types.StructType, DataFrame) = {
    val bounds = batch.agg(min(unix_micros(col("ts"))),
      max(unix_micros(col("ts")))).first()
    val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
    val root = java.nio.file.Files.createTempDirectory("graft-replay-")
    val streamDir = root.resolve("stream"); java.nio.file.Files.createDirectory(streamDir)
    // fixed synthetic mtimes: ordering must not depend on write latency
    val mtime0 = 1600000000000L
    def stage(df: DataFrame, i: Int): Unit = {
      val stageDir = root.resolve(s"stage_$i").toString
      df.coalesce(1).write.mode("overwrite").parquet(stageDir)
      val part = new java.io.File(stageDir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .head
      val dst = streamDir.resolve(f"chunk_$i%02d.parquet").toFile
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(mtime0 + i * 60000L)
    }
    // equal event-time slices; an empty slice is just an empty micro-batch.
    // All real chunks are cut in ONE pass (guide §2.4): a chunk-id column
    // with exactly the same [lo, hi) boundaries, hash-distributed by it,
    // written partitionBy(chunk) — one scan+shuffle+write job instead of
    // nChunks full scans of the events table, and still one file per chunk.
    val span = math.max(1L, maxUs - minUs + 1)
    val cutoffs = (1 to nChunks).map(i => minUs + (span * i) / nChunks)
    val us = unix_micros(col("ts"))
    val chunkId = cutoffs.init.zipWithIndex.foldRight(
      lit(nChunks - 1): org.apache.spark.sql.Column) {
      case ((hi, i), rest) => when(us < hi, i).otherwise(rest)
    }
    val chunkDir = root.resolve("chunks").toString
    batch.withColumn("__chunk", chunkId)
      .repartition(col("__chunk"))
      .write.partitionBy("__chunk").mode("overwrite").parquet(chunkDir)
    (0 until nChunks).foreach { i =>
      val files = Option(new java.io.File(s"$chunkDir/__chunk=$i").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      files match {
        case Array(one) =>
          val dst = streamDir.resolve(f"chunk_$i%02d.parquet").toFile
          java.nio.file.Files.move(one.toPath, dst.toPath)
          dst.setLastModified(mtime0 + i * 60000L)
        case _ =>
          // empty slice (partitionBy writes no dir) or a multi-file task
          // split: restage that slice alone the slow way — rare, and the
          // staged bytes are identical either way
          val lo = minUs + (span * i) / nChunks
          val hi = cutoffs(i)
          stage(batch.filter(us >= lo && us < hi), i)
      }
    }
    // two sentinels, each its own batch: the FIRST lifts the watermark past
    // every real deadline at its batch's end; the SECOND's (data) batch then
    // fires the expired timers — no reliance on no-data micro-batches.
    sentinels(maxUs).zipWithIndex.foreach { case (df, j) =>
      stage(df, nChunks + j)
    }
    root.toFile.listFiles().filter(_.getName != "stream")
      .foreach(org.apache.commons.io.FileUtils.forceDelete)
    (streamDir.toString, batch.schema,
      readStagedReplay(spark, streamDir.toString, batch.schema))
  }

  /** Drain a (bounded) streaming DataFrame through a memory sink and return
    * the sink contents as a batch DataFrame. Deterministic for file sources:
    * processAllAvailable blocks until every input file is consumed.
    *
    * State partition count is scoped down for the drain: a streaming query
    * instantiates one state store per shuffle partition and commits every
    * one of them per micro-batch, so per-batch overhead scales with the
    * session's shuffle parallelism (32 here) rather than the data. 8 keeps
    * the drain parallel without paying 32 state commits for a bounded
    * replay; a production deployment sizes this to its key cardinality via
    * the session conf instead (state partitioning is fixed at the first
    * checkpoint, so it is a per-query deployment choice either way). */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String,
                  mode: String, statePartitions: Int = 8): DataFrame = {
    // the shuffle-partition override is session-global state: serialize
    // drains so two concurrent save/set/restore sequences can't interleave
    // and strand the session at the scoped-down value
    drainLock.synchronized {
      val conf = spark.conf
      val prev = conf.get("spark.sql.shuffle.partitions")
      conf.set("spark.sql.shuffle.partitions", statePartitions)
      try {
        val q = df.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(mode)
          .start()
        try q.processAllAvailable()
        finally q.stop()
      } finally conf.set("spark.sql.shuffle.partitions", prev)
    }
    spark.table(name)
  }

  private val drainLock = new Object
}
