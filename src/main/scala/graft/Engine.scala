package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * One place to pin the configs that matter for correctness (UTC session
  * time zone — oracle parity) and for scale (AQE on, shuffle partitions
  * sized to the actual parallelism instead of the 200 default, which on
  * a real cluster would be overridden per-job anyway). Sized values
  * derive from `cores` (and the JVM heap); no environment variable is read.
  */
object Engine {

  /** Local session on `cores` threads. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors.min(32),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // AQE coalesces DOWN from the initial partition count but (skew
      // joins aside) never splits UP — so shuffle.partitions=cores makes
      // every big shuffle spill once a stage outgrows cores×(executor
      // memory/part). Start 8× finer and let AQE merge: small SFs
      // coalesce back to ~cores partitions (measured no-op on the gate),
      // while the sf1 ppjoin verification shuffle (~850M rows) keeps
      // enough partitions to sort in memory — its 10×-data cost drops
      // from 16× to near-linear. On a real cluster this is the same
      // knob the deployment would size to max concurrent tasks × ~4.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 8).toString)
      // TopKPerKey retained-row budget, sized to the heap/task ratio instead
      // of the operator's 1M-row cap: per-task heap state is ~1 KB per
      // retained row all-in (UnsafeRow copy + hash entry + priority-queue
      // node). In local mode driver = executor, so maxMemory/threads IS the
      // task's share (the KMV sketch chain OOM'd the 8 GB local default
      // until this was sized — DESIGN.md round 10); a cluster deployment
      // overrides it from executor-memory/executor-cores, and 4-8 GB/task
      // production sizing lands back on the 1M cap.
      .config("spark.graft.topk.rowBudget",
        math.max(1L << 14, math.min(1L << 20,
          Runtime.getRuntime.maxMemory / cores / 1024)).toString)
      // ObjectHashAggregate (min_by/max_by/collect_*) falls back to
      // sort-based aggregation after this many distinct keys per partition;
      // the 128 default pre-dates memory-tracked buffers and turns every
      // frontier-sized hash argmin (g_walks: O(walks) keys per partition)
      // into a sort of the edge-sized join output. 1M keys ≈ 100 MB of
      // min_by buffers per task — within the per-task share sized for
      // TopKPerKey above.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        (1 << 20).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata events.ts is TIMESTAMP(NANOS) which Spark otherwise rejects;
      // read as Long ns and convert in Tables.load.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) columns (the
      // regenerated testdata's ts/shipdate) must read as TimestampType, not
      // TIMESTAMP_NTZ: watermarks and as-of joins require LTZ, and with the
      // session time zone pinned UTC the two are value-identical.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
