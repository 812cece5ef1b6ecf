package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.EventsStream

/** Streaming queries, drained synchronously through a memory sink so the
  * driver can hash-compare them against batch SQL oracles — the streaming
  * result must equal the batch answer over the same (bounded) input, which
  * is exactly the correctness contract of Structured Streaming.
  *
  * Memory-sink table names are unique per query to avoid collisions when the
  * driver runs the whole inventory in one session.
  */
object StreamingOps {

  val queries: Seq[Query] = Seq(
    Query("s_cdc_stream", (s, _) => {
      // STREAMING CDC consumption: the change feed arrives as two
      // seq-ordered micro-batches (a file-source replay with pinned
      // mtimes, the EventsStream staging idiom) and foreachBatch applies
      // each through the same latest-op-wins I/U/D merge the batch path
      // uses (p_cdc). Because every seq in batch 2 exceeds every seq in
      // batch 1, sequential per-batch application provably equals the
      // one-shot latest-wins apply — which is exactly what the shared
      // oracle states. This is the Debezium-consumer shape: at 100 TB
      // each micro-batch's merge is change-set-sized, never table-sized.
      import graft.pipeline.{Catalog => Cat, Fixtures, Loader => Ld, Schemas => Sch, Staging => Stg}
      val fixtureDir = Fixtures.dir
      Cat.drop(s); Cat.ensure(s)
      val table = Cat.tableName("dag_run")
      val pk = Sch.pkOf("dag_run")
      val snapshot = Stg.readStaged(s, "dag_run",
        Seq(s"$fixtureDir/dagRuns1.json"))
      Ld.dedupAppend(s, snapshot, table, pk)
      val cdcSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("op",
          org.apache.spark.sql.types.StringType) +:
        org.apache.spark.sql.types.StructField("seq",
          org.apache.spark.sql.types.LongType) +:
        Sch.byEntity("dag_run").fields.toSeq)
      val changes = s.read.schema(cdcSchema).option("multiLine", "true")
        .json(s"$fixtureDir/cdc.json")
      val seqs = changes.select("seq").distinct().orderBy("seq")
        .collect().map(_.getLong(0))
      val cut = seqs(seqs.length / 2)
      val root = java.nio.file.Files.createTempDirectory("graft-cdcstream-")
      val streamDir = root.resolve("stream")
      java.nio.file.Files.createDirectory(streamDir)
      def stage(df: org.apache.spark.sql.DataFrame, i: Int): Unit = {
        val st = root.resolve(s"stage_$i").toString
        df.coalesce(1).write.mode("overwrite").parquet(st)
        val part = new java.io.File(st).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
        val dst = streamDir.resolve(f"chunk_$i%02d.parquet").toFile
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1600000000000L + i * 60000L)
      }
      stage(changes.filter(col("seq") < cut), 0)
      stage(changes.filter(col("seq") >= cut), 1)
      val q = s.readStream.schema(cdcSchema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          Ld.applyCdc(batch.sparkSession, batch, table, pk)
        }.start()
      try q.processAllAvailable() finally q.stop()
      s.table(table).select("dag_id", "dag_run_id", "state")
        .orderBy(col("dag_id"), col("dag_run_id"))
    }, oracle =
      // identical to p_cdc's one-shot latest-wins oracle: every seq in
      // micro-batch 2 exceeds every seq in batch 1 and non-D ops UPSERT,
      // so sequential per-batch application provably reaches the same
      // final state
      s"""WITH snap AS (
            SELECT dag_id, dag_run_id, state
            FROM read_json('${graft.pipeline.Fixtures.dir}/dagRuns1.json', format='array',
              columns={dag_id:'VARCHAR', dag_run_id:'VARCHAR', state:'VARCHAR'})),
          cdc AS (
            SELECT op, seq, dag_id, dag_run_id, state
            FROM read_json('${graft.pipeline.Fixtures.dir}/cdc.json', format='array',
              columns={op:'VARCHAR', seq:'BIGINT', dag_id:'VARCHAR',
                       dag_run_id:'VARCHAR', state:'VARCHAR'})),
          latest AS (
            SELECT op, dag_id, dag_run_id, state FROM (
              SELECT *, row_number() OVER (PARTITION BY dag_id, dag_run_id
                         ORDER BY seq DESC) AS rn FROM cdc)
            WHERE rn = 1)
          SELECT s.dag_id, s.dag_run_id, s.state FROM snap s
          WHERE NOT EXISTS (SELECT 1 FROM latest l
                            WHERE l.dag_id = s.dag_id
                              AND l.dag_run_id = s.dag_run_id)
          UNION ALL
          SELECT dag_id, dag_run_id, state FROM latest WHERE op <> 'D'"""),
    Query("s_incr_rollup", (s, dir) => {
      // STREAMING materialized-view maintenance — p_incr_rollup's additive
      // merge driven by foreachBatch over a 4-micro-batch event-time
      // replay: each batch's hour×type PARTIAL aggregates merge additively
      // (existing + delta, decimal-exact) into the rollup via the PK
      // upsert. The event-time quartile boundaries split hours across
      // batches, so row replacement would silently drop earlier halves —
      // the oracle (the full recompute) gates the additive path. No
      // watermark/state layer: the rollup TABLE is the state, which is the
      // production pattern for continuously-maintained reporting marts; at
      // 100 TB each micro-batch aggregates map-side to hours×types
      // cardinality before touching the rollup.
      import org.apache.spark.sql.types.DecimalType
      val table = "rpt_s_incr_rollup"
      graft.pipeline.Catalog.dropManaged(s, table)
      s.sql(s"""CREATE TABLE $table (hour_ts TIMESTAMP, event_type STRING,
                n_events BIGINT, sum_value DECIMAL(18,2)) USING parquet""")
      val stream = EventsStream.readEventsChunkedReplayValue(s, dir, nChunks = 4)
      val q = stream.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val ss = batch.sparkSession
          val partial = batch.groupBy(
              date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
            .agg(count(lit(1)).as("n_events"),
              sum(col("value").cast(DecimalType(18, 2))).as("sum_value"))
          val existing = ss.table(table)
          val combined = partial.as("d")
            .join(existing.as("e"), Seq("hour_ts", "event_type"), "left")
            .select(col("hour_ts"), col("event_type"),
              (col("d.n_events") + coalesce(col("e.n_events"), lit(0L)))
                .as("n_events"),
              (col("d.sum_value") + coalesce(col("e.sum_value"),
                lit(java.math.BigDecimal.ZERO))).as("sum_value"))
          graft.pipeline.Loader.upsert(ss, combined, table,
            Seq("hour_ts", "event_type"))
        }.start()
      try q.processAllAvailable() finally q.stop()
      s.table(table).select(col("hour_ts"), col("event_type"),
        col("n_events"), col("sum_value").cast("double").as("sum_value"))
    }, oracle =
      // the full recompute the incrementally-maintained rollup must equal
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
                CAST(count(*) AS BIGINT) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2"""),
    Query("s_hourly", (s, dir) => {
      val out = EventsStream.runToMemory(
        s, EventsStream.hourlyAgg(EventsStream.readEvents(s, dir)),
        "s_hourly_sink", "complete")
      out.select("hour_ts", "event_type", "n_events", "sum_value")
    }, oracle =
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2"""),
    Query("s_sliding", (s, dir) => {
      EventsStream.runToMemory(
        s, EventsStream.slidingAgg(EventsStream.readEvents(s, dir)),
        "s_sliding_sink", "complete")
    }, oracle =
      // each event belongs to the 4 sliding windows whose 15-min-aligned
      // start s satisfies s <= ts < s+1h; both engines' window grids are
      // :00/:15/:30/:45-aligned (epoch and 2000-01-01 origins coincide for
      // divisors of an hour), so the starts — and sums — match exactly
      """WITH g AS (SELECT unnest(generate_series(0, 3)) AS k),
         w AS (SELECT e.event_type, e.value,
                      time_bucket(INTERVAL '15 minutes', e.ts)
                        - k * INTERVAL '15 minutes' AS wstart
               FROM events e, g)
         SELECT CAST(wstart AS TIMESTAMP) AS window_start, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM w GROUP BY 1, 2"""),
    Query("s_sessionize", (s, dir) => {
      EventsStream.runToMemory(
        s, EventsStream.sessionAgg(EventsStream.readEvents(s, dir)),
        "s_sessionize_sink", "complete")
    }, oracle =
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         flagged AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         sess AS (
           SELECT user_id, us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged)
         SELECT user_id, make_timestamp(min(us)) AS session_start, count(*) AS n_events
         FROM sess GROUP BY user_id, session_id"""),
    Query("s_stream_join", (s, dir) => {
      // stream-stream inner join with event-time range + watermarked state
      val ev = EventsStream.readEvents(s, dir)
      val joined = EventsStream.clickErrorJoin(
        ev.filter(col("event_type") === "click"),
        EventsStream.readEvents(s, dir).filter(col("event_type") === "error"),
        windowSec = 600L)
      EventsStream.runToMemory(s, joined, "s_stream_join_sink", "append")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("click_id")).as("n_clicks"),
          countDistinct(col("error_id")).as("n_errors"))
    }, oracle =
      """WITH pairs AS (
           SELECT c.user_id, c.event_id AS click_id, e.event_id AS error_id
           FROM events c JOIN events e
             ON c.user_id = e.user_id
            AND c.event_type = 'click' AND e.event_type = 'error'
            AND epoch_us(e.ts) >= epoch_us(c.ts)
            AND epoch_us(e.ts) <= epoch_us(c.ts) + 600000000)
         SELECT user_id, count(*) AS n_pairs,
                count(DISTINCT click_id) AS n_clicks,
                count(DISTINCT error_id) AS n_errors
         FROM pairs GROUP BY user_id"""),
    Query("s_enrich", (s, dir) => {
      // stream-static dimension enrichment: stateless on the stream side
      // (broadcast dim snapshot per micro-batch); the aggregation runs
      // batch-side on the drained sink
      val ev = EventsStream.readEvents(s, dir)
      val dim = graft.Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val joined = EventsStream
        .enrichWithDim(ev, dim, "user_id", "c_custkey")
        .select(col("c_mktsegment"), col("event_type"), col("value"))
      EventsStream.runToMemory(s, joined, "s_enrich_sink", "append")
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("sum_value"))
    }, oracle =
      """SELECT c_mktsegment, event_type, count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1, 2"""),
    Query("s_topk", (s, dir) => {
      // streaming bounded-state top-k: events.parquet is ONE file, so the
      // file source delivers one batch and each key emits its final top-5
      // exactly once — oracle = the batch row_number formulation. The
      // incremental multi-batch merge (state stays k rows/key) is
      // spec-gated in StreamingSpec.
      val ev = EventsStream.readEvents(s, dir)
      val top = graft.streaming.StatefulOps.streamingTopKPerType(s, ev, k = 5)
      EventsStream.runToMemory(s, top.toDF(), "s_topk_sink", "update")
    }, oracle =
      """SELECT event_type, event_id, value, rank FROM (
           SELECT event_type, event_id, value,
                  CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY value DESC, event_id ASC) AS INTEGER) AS rank
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL) t
         WHERE rank <= 5"""),
    Query("s_anomaly", (s, dir) => {
      // streaming running z-score alerts (keyed state, integer-exact
      // moments) — single-batch emission equals the batch
      // unbounded-preceding window formulation; rounding happens here in
      // Spark (same round as every batch query), not in the state fn.
      val ev = EventsStream.readEvents(s, dir)
      val alerts = graft.streaming.StatefulOps
        .streamingAnomaly(s, ev, minPrior = 12)
      EventsStream.runToMemory(s, alerts.toDF(), "s_anomaly_sink", "update")
        .select(col("event_type"), col("event_id"), col("value"),
          round(col("z"), 6).as("z"))
    }, oracle =
      // PRIOR-only frame (UNBOUNDED PRECEDING .. 1 PRECEDING) = the state
      // the streaming op had seen before each row; decimal window sums
      // cast to double round the same rationals as the op's integer units.
      // The sqrt sits inside a CASE repeating the variance guard: DuckDB
      // pushes the outer z >= 2 predicate into this CTE and may evaluate
      // it BEFORE the WHERE conjuncts, so an unguarded sqrt errors on a
      // negative-variance row (first observed at sf1 — a constant-prefix
      // key whose fp cancellation dips below 0). CASE evaluation is
      // per-row lazy, and surviving rows compute the identical double.
      """WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us, value
                    FROM events
                    WHERE event_type IS NOT NULL AND value IS NOT NULL),
         w AS (SELECT event_type, event_id, value,
                 CAST(sum(CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE) AS sx,
                 CAST(sum(CAST(value AS DECIMAL(18,2)) *
                          CAST(value AS DECIMAL(18,2))) OVER win AS DOUBLE) AS sxx,
                 CAST(count(*) OVER win AS DOUBLE) AS nn
               FROM e
               WINDOW win AS (PARTITION BY event_type ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
         z AS (SELECT event_type, event_id, value,
                 CASE WHEN nn >= 12 AND nn * sxx - sx * sx > 0
                      THEN (value - sx / nn)
                           / sqrt((nn * sxx - sx * sx) / (nn * nn))
                      END AS z
               FROM w WHERE nn >= 12 AND nn * sxx - sx * sx > 0)
         SELECT event_type, event_id, value, round(z, 6) AS z
         FROM z WHERE z >= 2"""),
    Query("s_kmv", (s, dir) => {
      // mergeable sketch as streaming state: per-type KMV distinct-user
      // estimate; single-batch emission equals the batch KmvDistinct
      // aggregate (order-independent synopsis), replayed by the oracle
      val ev = EventsStream.readEvents(s, dir)
      EventsStream.runToMemory(s,
        graft.streaming.StatefulOps.streamingKmv(s, ev, k = 128).toDF(),
        "s_kmv_sink", "update")
    }, oracle =
      // the KMV synopsis is order-independent, so the streaming state
      // equals this batch window replay (identical to q_kmv_distinct's
      // formulation, k=128, over user_id per type)
      """WITH h AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
                    FROM events
                    WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         r AS (SELECT event_type, h,
                      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS nd
               FROM h),
         kth AS (SELECT event_type, max(nd) AS nd,
                        greatest(1, max(CASE WHEN rn = 128
                                 THEN ('0x' || substr(h, 1, 12))::BIGINT END)) AS v
                 FROM r GROUP BY 1)
         SELECT event_type,
                CASE WHEN nd < 128 THEN CAST(nd AS DOUBLE)
                     ELSE round((127.0 / v) * 281474976710656.0, 4) END AS kmv_users
         FROM kth"""),
    Query("s_sessionize_timeout", (s, dir) => {
      // timeout-driven sessionization, oracle-gated end-to-end: the events
      // table replays as 4 time-ordered micro-batches + 2 far-future
      // sentinel batches (readEventsChunkedReplay), so EventTimeTimeout
      // actually FIRES across batch boundaries and every real session is
      // closed — by an in-batch gap or by its timer — before the drain
      // ends. The append-mode output then equals the batch gap rule
      // (new session when idle > 30 min), which is the oracle.
      val ev = EventsStream.readEventsChunkedReplay(s, dir, nChunks = 4)
        .withWatermark("ts", "0 seconds")
      val closed = graft.streaming.StatefulOps
        .streamingSessionize(s, ev, gapSec = 1800L)
      EventsStream.runToMemory(s, closed.toDF(),
        "s_sessionize_timeout_sink", "append")
        .filter(col("user_id") >= 0) // drop the watermark-driver sentinels
    }, oracle =
      // the closed-session set is batch-replayable: the streaming op closes
      // a session when the NEXT event is > gap after the session end (or the
      // watermark passes end + gap), which over a bounded input is exactly
      // the lag-based gap rule with a STRICT comparison. Bounds in micros.
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         flagged AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         sess AS (
           SELECT user_id, us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged)
         SELECT user_id, min(us) AS session_start, max(us) AS session_end,
                count(*) AS n_events
         FROM sess GROUP BY user_id, sid"""),
    Query("s_stream_outer", (s, dir) => {
      // LEFT-OUTER stream-stream join, oracle-gated end-to-end: unmatched
      // clicks must emit a null-error row exactly once, which only happens
      // when the JOINT watermark proves the click's match window closed —
      // impossible in a single-batch drain (LeftOuterJoinSpec documents
      // why), so both sides replay as time-ordered micro-batches with
      // far-future sentinel rows of BOTH event types
      // (readEventsChunkedReplayFull): sentinel batch 1 lifts both
      // watermark nodes past every real click's deadline, sentinel batch 2
      // triggers the eviction scan that flushes the null-error rows. The
      // drained append output then equals the batch LEFT JOIN.
      // stage the replay ONCE; each join side opens its own independent
      // streaming source over the same staged files (halves staging cost)
      val (path, schema) =
        EventsStream.stageEventsChunkedReplayFull(s, dir, nChunks = 4)
      val clicks = EventsStream.readStagedReplay(s, path, schema)
        .filter(col("event_type") === "click")
      val errors = EventsStream.readStagedReplay(s, path, schema)
        .filter(col("event_type") === "error")
      val joined = EventsStream.clickErrorJoin(clicks, errors,
        windowSec = 600L, joinType = "left_outer")
      EventsStream.runToMemory(s, joined, "s_stream_outer_sink", "append")
        .filter(col("user_id") >= 0) // drop the watermark-driver sentinels
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          count(col("error_id")).as("n_matched"),
          sum(when(col("error_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
    }, oracle =
      // the streaming left-outer result over a bounded, fully-flushed
      // input equals the batch LEFT JOIN with the same key + time-range
      // condition; the replay drops null user_id/ts rows, mirrored here
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
                    FROM events
                    WHERE event_type = 'click' AND user_id IS NOT NULL
                      AND ts IS NOT NULL),
         e AS (SELECT user_id AS e_user_id, event_id AS error_id,
                      epoch_us(ts) AS eus
               FROM events
               WHERE event_type = 'error' AND user_id IS NOT NULL
                 AND ts IS NOT NULL),
         j AS (SELECT c.user_id, c.click_id, e.error_id
               FROM c LEFT JOIN e ON c.user_id = e.e_user_id
                 AND e.eus >= c.cus AND e.eus <= c.cus + 600000000)
         SELECT user_id, count(*) AS n_rows,
                CAST(count(error_id) AS BIGINT) AS n_matched,
                CAST(count(*) - count(error_id) AS BIGINT) AS n_unmatched
         FROM j GROUP BY user_id"""),
    Query("s_stream_full_outer", (s, dir) => {
      // FULL-OUTER stream-stream join — both null directions at once:
      // unmatched clicks emit a null-error row AND unmatched errors emit a
      // null-click row, each exactly once, when the JOINT watermark closes
      // the respective match window. Same sentinel-replay machinery as
      // s_stream_outer (both event types in each sentinel batch, so both
      // watermark nodes lift and the eviction scan flushes BOTH state
      // stores); the drained append output equals the batch FULL JOIN.
      val (path, schema) =
        EventsStream.stageEventsChunkedReplayFull(s, dir, nChunks = 4)
      val clicks = EventsStream.readStagedReplay(s, path, schema)
        .filter(col("event_type") === "click")
      val errors = EventsStream.readStagedReplay(s, path, schema)
        .filter(col("event_type") === "error")
      val joined = EventsStream.clickErrorJoin(clicks, errors,
        windowSec = 600L, joinType = "full_outer")
      EventsStream.runToMemory(s, joined, "s_stream_full_outer_sink", "append")
        .filter(col("user_id") >= 0) // drop the watermark-driver sentinels
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("click_id").isNotNull && col("error_id").isNotNull,
            1L).otherwise(0L)).as("n_matched"),
          sum(when(col("error_id").isNull, 1L).otherwise(0L)).as("n_click_only"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_error_only"))
    }, oracle =
      // over a bounded, fully-flushed input the streaming full-outer
      // equals the batch FULL JOIN with the same key + time-range
      // condition; the replay drops null user_id/ts rows, mirrored here
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
                    FROM events
                    WHERE event_type = 'click' AND user_id IS NOT NULL
                      AND ts IS NOT NULL),
         e AS (SELECT user_id AS e_user_id, event_id AS error_id,
                      epoch_us(ts) AS eus
               FROM events
               WHERE event_type = 'error' AND user_id IS NOT NULL
                 AND ts IS NOT NULL),
         j AS (SELECT coalesce(c.user_id, e.e_user_id) AS user_id,
                      c.click_id, e.error_id
               FROM c FULL JOIN e ON c.user_id = e.e_user_id
                 AND e.eus >= c.cus AND e.eus <= c.cus + 600000000)
         SELECT user_id, count(*) AS n_rows,
                CAST(sum(CASE WHEN click_id IS NOT NULL
                               AND error_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched,
                CAST(sum(CASE WHEN error_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_click_only,
                CAST(sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_error_only
         FROM j GROUP BY user_id"""),
    Query("s_stream_right_outer", (s, dir) => {
      // RIGHT-OUTER stream-stream join — the remaining outer direction
      // Spark supports (s_stream_outer = left, s_stream_full_outer =
      // both): unmatched ERRORS emit a null-click row exactly once when
      // the joint watermark proves no click's window can still claim
      // them; matched rows emit as in the inner join. Same sentinel
      // machinery; drained append output equals the batch RIGHT JOIN.
      val (path, schema) =
        EventsStream.stageEventsChunkedReplayFull(s, dir, nChunks = 4)
      val clicks = EventsStream.readStagedReplay(s, path, schema)
        .filter(col("event_type") === "click")
      val errors = EventsStream.readStagedReplay(s, path, schema)
        .filter(col("event_type") === "error")
      val joined = EventsStream.clickErrorJoin(clicks, errors,
        windowSec = 600L, joinType = "right_outer")
      EventsStream.runToMemory(s, joined, "s_stream_right_outer_sink", "append")
        .filter(col("user_id") >= 0) // drop the watermark-driver sentinels
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("click_id").isNotNull, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("click_id").isNull, 1L).otherwise(0L)).as("n_error_only"))
    }, oracle =
      // over a bounded, fully-flushed input the streaming right-outer
      // equals the batch RIGHT JOIN with the same key + time-range
      // condition; the replay drops null user_id/ts rows, mirrored here
      """WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cus
                    FROM events
                    WHERE event_type = 'click' AND user_id IS NOT NULL
                      AND ts IS NOT NULL),
         e AS (SELECT user_id AS e_user_id, event_id AS error_id,
                      epoch_us(ts) AS eus
               FROM events
               WHERE event_type = 'error' AND user_id IS NOT NULL
                 AND ts IS NOT NULL),
         j AS (SELECT coalesce(c.user_id, e.e_user_id) AS user_id,
                      c.click_id, e.error_id
               FROM c RIGHT JOIN e ON c.user_id = e.e_user_id
                 AND e.eus >= c.cus AND e.eus <= c.cus + 600000000)
         SELECT user_id, count(*) AS n_rows,
                CAST(sum(CASE WHEN click_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_matched,
                CAST(sum(CASE WHEN click_id IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_error_only
         FROM j GROUP BY user_id"""),
    Query("s_session_hourly", (s, dir) => {
      // CHAINED stateful operators (Spark 3.4+ multi-stateful support):
      // session-window aggregation feeding a tumbling-window rollup in ONE
      // streaming query — sessions close as the watermark passes, flow
      // into the hourly count, and the hourly windows flush on the
      // propagated watermark. THREE sentinel batches (not two): each
      // chained layer adds one batch of flush latency — the last session
      // leaves layer 1 only when a sentinel batch evicts it, and its hour
      // window then needs one more batch to leave layer 2.
      //
      // NO sentinel filter inside the stream: a `user_id >= 0` filter
      // between the layers gets PUSHED below the watermark node to the
      // scan (user_id is a grouping key, so the optimizer is free to),
      // silently deleting the sentinel rows — the watermark then never
      // passes the real max event and the final session + final hour
      // stay in state forever (found the hard way; the debug trail is
      // DESIGN.md's round-8 section). Sentinel-driven phantom hours are
      // instead dropped POST-drain by bounding hour_ts to the corpus
      // max — a 1-row driver agg, the bounded-scalar idiom the ANN
      // queries already use.
      // bound = corpus max + the session gap: a session ending at the
      // corpus max has window end (and so hour bucket) up to gap later;
      // sentinel-driven phantom hours sit 10+ days beyond either way
      val maxTs = graft.Tables.load(s, dir, "events")
        .agg(max(col("ts"))).first().getTimestamp(0)
      val bound = new java.sql.Timestamp(maxTs.getTime + 1800 * 1000L)
      val ev = EventsStream.readEventsChunkedReplay(s, dir, nChunks = 4,
          sentinelBatches = 3)
        .withWatermark("ts", "0 seconds")
      val sessions = ev
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      val hourly = sessions
        .groupBy(window(col("session_window"), "1 hour"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_events")).as("n_session_events"))
        .select(col("window.start").as("hour_ts"), col("n_sessions"),
          col("n_session_events"))
      EventsStream.runToMemory(s, hourly, "s_session_hourly_sink", "append")
        .filter(col("hour_ts") <= lit(bound))
    }, oracle =
      // sessions by the gap rule (identical to s_sessionize_timeout's),
      // then bucketed by the hour of the SESSION WINDOW'S END (last event
      // + gap — Spark's session_window end, which is what the chained
      // window() buckets on; pinned empirically, 531/531 hour rows)
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
                    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         flagged AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         sess AS (
           SELECT user_id, us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM flagged),
         s2 AS (SELECT user_id, sid, max(us) AS end_us, count(*) AS n
                FROM sess GROUP BY 1, 2)
         SELECT CAST(date_trunc('hour', make_timestamp(end_us + 1800000000))
                  AS TIMESTAMP) AS hour_ts,
                count(*) AS n_sessions,
                CAST(sum(n) AS BIGINT) AS n_session_events
         FROM s2 GROUP BY 1"""),
    Query("s_tws_stats", (s, dir) => {
      // Spark 4 transformWithState (the [flat]mapGroupsWithState
      // successor): typed ValueState per event type, RocksDB state store
      // (TWS requires its column-family API; conf scoped to this drain
      // and restored after). Single-batch emission = the batch aggregate.
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try {
        val ev = EventsStream.readEvents(s, dir)
        EventsStream.runToMemory(s,
          graft.streaming.StatefulOps.streamingTypeStatsTws(s, ev).toDF(),
          "s_tws_stats_sink", "update")
      } finally prev match {
        case Some(v) => s.conf.set(key, v)
        case None => s.conf.unset(key)
      }
    }, oracle =
      // the TWS processor's integer-cent accumulation replayed as a batch
      // aggregate (Math.round(v*100) == DuckDB round(value*100) on
      // 2-decimal values — the established cents contract)
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM events
         WHERE event_type IS NOT NULL AND value IS NOT NULL
         GROUP BY event_type"""),
    Query("s_dedup", (s, dir) => {
      // duplicate the stream (union with itself), then stateful dedup —
      // result must equal plain per-type counts of the batch table.
      val ev = EventsStream.readEvents(s, dir)
      val doubled = ev.unionByName(EventsStream.readEvents(s, dir))
      val deduped = EventsStream.runToMemory(
        s, EventsStream.dedupByEventId(doubled), "s_dedup_sink", "append")
      deduped.groupBy("event_type").agg(count(lit(1)).as("n_events"))
    }, oracle =
      """SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type""")
  )
}
