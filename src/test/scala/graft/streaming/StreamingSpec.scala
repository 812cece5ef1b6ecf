package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}

/** Streaming ≡ batch over the same bounded input — the Structured Streaming
  * correctness contract (oracle-checked at sf0.01 via StreamingOps; these
  * specs cover the remaining stateful surface at sf0.001). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  test("stream dedup of a doubled stream equals the batch row count") {
    val ev = EventsStream.readEvents(spark, dir)
    val doubled = ev.unionByName(EventsStream.readEvents(spark, dir))
    val deduped = EventsStream.runToMemory(
      spark, EventsStream.dedupByEventId(doubled), "spec_dedup", "append")
    val batch = Tables.load(spark, dir, "events").count()
    assert(deduped.count() == batch)
  }

  test("streaming hourly agg equals batch groupBy over the same input") {
    val out = EventsStream.runToMemory(
      spark, EventsStream.hourlyAgg(EventsStream.readEvents(spark, dir)),
      "spec_hourly", "complete")
    val batch = Tables.load(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val got = out.select("hour_ts", "event_type", "n_events")
    assert(got.count() == batch.count())
    assert(got.except(batch).count() == 0 && batch.except(got).count() == 0)
  }

  test("foreachBatch streaming load into a managed table is duplicate-free") {
    val db = "stream_sink_probe"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"""CREATE TABLE $db.events_t
                  (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
                   event_type STRING, value DOUBLE, props STRING) USING parquet""")
    try {
      // doubled stream: an at-least-once source; PK dedup must collapse it
      val ev = EventsStream.readEvents(spark, dir)
      val doubled = ev.unionByName(EventsStream.readEvents(spark, dir))
      val q = EventsStream.streamIntoTable(doubled, s"$db.events_t", Seq("event_id"))
      q.processAllAvailable(); q.stop()
      val batch = Tables.load(spark, dir, "events").count()
      assert(spark.table(s"$db.events_t").count() == batch)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("foreachBatch streaming curation drops corpus near-dups from arriving docs") {
    import graft.operators.TextDedup
    val db = "stream_curate_probe"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE $db")
    spark.sql(s"""CREATE TABLE $db.admitted
                  (doc_id BIGINT, text STRING, lang STRING, source STRING,
                   n_chars BIGINT) USING parquet""")
    try {
      val all = Tables.load(spark, dir, "documents")
      val corpus = all.filter(col("source") =!= "src18")
      // the arriving stream: the src18 slice, read through the file source
      val docSchema = spark.read.parquet(s"$dir/documents.parquet").schema
      val arriving = spark.readStream.schema(docSchema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("source") === "src18")
      val q = arriving.writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val dups = TextDedup.incrementalLshMatches(corpus, batch,
            "doc_id", "text", 3, 15, 3, minEqual = 9).select("doc_id")
          graft.pipeline.Loader.dedupAppend(batch.sparkSession,
            batch.join(dups, Seq("doc_id"), "left_anti"),
            s"$db.admitted", Seq("doc_id"))
        }
        .start()
      q.processAllAvailable(); q.stop()
      // streaming admission must equal the batch computation end-to-end
      val batchDocs = all.filter(col("source") === "src18")
      val expectDropped = TextDedup.incrementalLshMatches(corpus, batchDocs,
        "doc_id", "text", 3, 15, 3, minEqual = 9).count()
      assert(expectDropped > 0, "probe corpus must contain planted cross-slice dups")
      assert(spark.table(s"$db.admitted").count() == batchDocs.count() - expectDropped)
    } finally spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("streaming top-k: bounded state merges across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Double)]
    val df = ms.toDF.toDF("event_id", "event_type", "value")
    val top = StatefulOps.streamingTopKPerType(spark, df, k = 2).toDF
    val q = top.writeStream.format("memory").queryName("spec_stopk")
      .outputMode("update").start()
    try {
      ms.addData((1L, "a", 10.0), (2L, "a", 5.0), (3L, "a", 8.0))
      q.processAllAvailable()
      val b1 = spark.table("spec_stopk").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      // k bounds the emission: 3 events in, only the top-2 out
      assert(b1.toSet == Set(("a", 1L, 10.0, 1), ("a", 3L, 8.0, 2)))
      // batch 2: a new a-event displaces rank 2; a new key starts fresh
      ms.addData((4L, "a", 9.0), (5L, "b", 1.0))
      q.processAllAvailable()
      val all = spark.table("spec_stopk").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      assert(all.toSet.contains(("a", 4L, 9.0, 2)), all.mkString(", "))
      assert(all.toSet.contains(("a", 1L, 10.0, 1)))
      assert(all.toSet.contains(("b", 5L, 1.0, 1)))
      // event 2 (5.0) fell out of state in batch 1 and never re-emerges
      assert(!all.exists { case (_, id, _, _) => id == 2L })
    } finally q.stop()
  }

  test("transformWithState running totals merge incrementally across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val ms = MemoryStream[(String, Double)]
    val df = ms.toDF.toDF("event_type", "value")
    val stats = StatefulOps.streamingTypeStatsTws(spark, df).toDF
    val q = stats.writeStream.format("memory").queryName("spec_tws")
      .outputMode("update").start()
    try {
      ms.addData(("a", 1.25), ("a", 2.50), ("b", 0.10))
      q.processAllAvailable()
      def latest(): Map[String, (Long, Long)] =
        spark.table("spec_tws").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2))))
          .groupBy(_._1)
          // update mode appends per-batch rows to the memory sink; the
          // running total is each key's max-n emission
          .map { case (k, vs) => k -> vs.map(_._2).maxBy(_._1) }
      assert(latest() == Map("a" -> ((2L, 375L)), "b" -> ((1L, 10L))))
      // batch 2: 'a' accumulates onto RocksDB state; 'c' starts fresh;
      // 'b' saw no rows and must not re-emit
      ms.addData(("a", 0.25), ("c", 9.99))
      q.processAllAvailable()
      assert(latest() == Map("a" -> ((3L, 400L)), "b" -> ((1L, 10L)),
        "c" -> ((1L, 999L))))
      val bRows = spark.table("spec_tws").collect()
        .count(_.getString(0) == "b")
      assert(bRows == 1, "a key with no new rows must not re-emit in update mode")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("streaming KMV: sketch state merges across batches to the batch estimate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(String, Long)]
    val df = ms.toDF.toDF("event_type", "user_id")
    // small k so the estimator regime (not the exact regime) is exercised
    val est = StatefulOps.streamingKmv(spark, df, k = 16).toDF
    val q = est.writeStream.format("memory").queryName("spec_skmv")
      .outputMode("update").start()
    try {
      // 100 users split across two batches in interleaved order — the
      // final estimate must equal the one-shot batch aggregate
      val users = (0L until 100L).map(u => ("a", u))
      val (b1, b2) = users.partition(_._2 % 2 == 0)
      ms.addData(b1: _*)
      q.processAllAvailable()
      ms.addData(b2: _*)
      q.processAllAvailable()
      val last = spark.table("spec_skmv").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      val batchEst = {
        val agg = new graft.functions.KmvDistinct(16)
        agg.finish(users.map(_._2.toString).foldLeft(agg.zero)(agg.reduce))
      }
      // two updates for "a" (one per batch); the batch-2 state covers all
      // 100 users, so the batch one-shot estimate must be among them (and
      // memory-sink insertion order makes it the last row)
      assert(last.size == 2 && last.contains(("a", batchEst)), last.mkString(", "))
    } finally q.stop()
  }

  test("timeout sessionization: sessions close when the watermark passes the gap") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val withWm = ms.toDF.toDF("user_id", "ts").withWatermark("ts", "0 seconds")
    val sess = StatefulOps.streamingSessionize(spark, withWm, gapSec = 60L).toDF
    val q = sess.writeStream.format("memory").queryName("spec_ssess")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two events 10s apart (one session), user 2 one
      ms.addData((1L, ts(100)), (1L, ts(110)), (2L, ts(105)))
      q.processAllAvailable()
      assert(spark.table("spec_ssess").count() == 0, "nothing may close yet")
      // batch 2: an event far in the future advances the watermark past
      // both open sessions' gap deadlines → both close via timeout;
      // user 3's own session stays open
      ms.addData((3L, ts(1000)))
      q.processAllAvailable()
      // timed-out emissions can land in the NEXT micro-batch after the
      // watermark commit; force one more empty batch to drain
      ms.addData((3L, ts(1001)))
      q.processAllAvailable()
      val closed = spark.table("spec_ssess").collect()
        .map(r => (r.getLong(0), r.getLong(1) / 1000000L,
          r.getLong(2) / 1000000L, r.getLong(3))).toSet
      assert(closed == Set((1L, 100L, 110L, 2L), (2L, 105L, 105L, 1L)), closed)
      // in-batch gap closure: two bursts 100s apart in ONE batch close the
      // first burst immediately, no timeout needed
      ms.addData((4L, ts(2000)), (4L, ts(2005)), (4L, ts(2200)))
      q.processAllAvailable()
      val u4 = spark.table("spec_ssess").collect()
        .filter(_.getLong(0) == 4L)
        .map(r => (r.getLong(1) / 1000000L, r.getLong(2) / 1000000L, r.getLong(3)))
      assert(u4.toSeq == Seq((2000L, 2005L, 2L)), u4.mkString(", "))
    } finally q.stop()
  }

  test("flatMapGroupsWithState running totals: final state equals batch totals") {
    val running = EventsStream.runToMemory(spark,
      StatefulOps.runningUserTotals(spark, EventsStream.readEvents(spark, dir)).toDF(),
      "spec_running", "update")
    // last update per user == batch aggregate
    val finals = running.groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"))
    val batch = Tables.load(spark, dir, "events")
      .groupBy("user_id").agg(count(lit(1)).as("n_events"))
    assert(finals.except(batch).count() == 0 && batch.except(finals).count() == 0)
  }

  test("chunked replay staging leaves only the stream dir on disk") {
    val (path, _) = EventsStream.stageEventsChunkedReplayFull(spark, dir, 4)
    val stream = new java.io.File(path)
    assert(stream.getParentFile.list().toSeq == Seq("stream"))
    // 4 event-time chunks + 2 watermark sentinels, one file per trigger
    assert(stream.list().count(_.endsWith(".parquet")) == 6)
  }
}
