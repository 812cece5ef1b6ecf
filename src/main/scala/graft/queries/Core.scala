package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DecimalType, IntegerType}

import graft.Tables

/** Core relational operator surface: scan, projection, filter, aggregation,
  * joins (inner/left/full/semi/anti), windows, sort/limit, set ops, scalar
  * functions, subqueries.
  *
  * The reference (`astronomer/cs-tutorial-reporting`) delegates all of these to
  * PostgreSQL — its entire SQL surface is six statements (see SURVEY.md §2B) —
  * so this module realizes the full standard taxonomy Spark-first and pairs
  * every query with an ANSI-SQL oracle the driver runs on DuckDB.
  *
  * Determinism contract with the oracle: every floating-point SUM goes through
  * an exact DECIMAL cast (`sum(cast(x as decimal(18,2)))`) so the result is
  * independent of partitioning/summation order in BOTH engines; averages are
  * derived as `cast(decimalSum as double) / count` (one IEEE division of
  * identical operands); thresholds compare those deterministic values only.
  * Output types are aligned (BIGINT counts, INTEGER for year/rank) so the
  * driver's schema check passes.
  *
  * OUTPUT columns are never DECIMAL: the accumulation is decimal (exactness),
  * but every final projection casts to DOUBLE. The driver canonicalizes
  * results through pandas, where a Spark parquet DECIMAL becomes
  * `Decimal('254462.00')` (trailing zeros at scale) while DuckDB's DECIMAL
  * becomes `float64` `254462.0` — a guaranteed string mismatch. The
  * decimal→double cast is exact here (sums stay far below 2^53), and since
  * both engines cast the *identical* exact decimal, the doubles are
  * bit-identical.
  */
object Core {

  /** Exact, order-independent sum of a money-like double column.
    * Decimal accumulation internally; DOUBLE in the output (see class doc). */
  private def dsum(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Like dsum but scale 4 — for products of two 2-decimal columns (e.g.
    * price*(1-discount)), whose true values are exact at 4 decimals. Casting
    * at scale 2 would tie-break differently across engines (~10% of rows sit
    * on a .xx5 boundary); at scale 4 the cast is exact in both. */
  private def dsum4(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double")

  /** Deterministic average: exact decimal sum / count, one double division. */
  private def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double") / count(c)

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Synthesized TPC-H `partsupp`: the driver testdata lacks the table, so
    * Q2/Q11/Q20 analogues derive one DETERMINISTICALLY from lineitem's
    * distinct (partkey, suppkey) pairs — availqty (1..100) and supply cost
    * in integer CENTS (100..100000) are md5-derived, so both engines
    * materialize the identical table from the identical scan (md5 agrees
    * cross-engine; 6 hex digits are exact in a long). Integer cents keep
    * every downstream money comparison exact without decimal casts. The
    * distinct is one map-side-combinable shuffle at lineitem scale; the
    * derived columns are codegen'd per row. */
  private def partsupp(s: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(col("ps_partkey").cast("string"), lit("|"),
      col("ps_suppkey").cast("string")))
    t(s, dir, "lineitem")
      .select(col("l_partkey").as("ps_partkey"), col("l_suppkey").as("ps_suppkey"))
      .distinct()
      .select(col("ps_partkey"), col("ps_suppkey"),
        (lit(1) + conv(substring(h, 1, 6), 16, 10).cast("long") % 100)
          .as("ps_availqty"),
        (lit(100) + conv(substring(h, 7, 6), 16, 10).cast("long") % 99900)
          .as("ps_cost_cents"))
  }

  /** The partsupp synthesis as a DuckDB CTE — textually mirrored in every
    * oracle that uses [[partsupp]]. */
  private val partsuppSql: String =
    """ps AS (
        SELECT ps_partkey, ps_suppkey,
               1 + (('0x' || substr(md5(ps_partkey || '|' || ps_suppkey), 1, 6))::BIGINT % 100) AS ps_availqty,
               100 + (('0x' || substr(md5(ps_partkey || '|' || ps_suppkey), 7, 6))::BIGINT % 99900) AS ps_cost_cents
        FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey FROM lineitem))"""

  /** Lineitem extended with the three columns Q12/Q21 need and the testdata
    * lacks — synthesized DETERMINISTICALLY per (orderkey, linenumber) like
    * [[partsupp]]: l_shipmode from a 7-mode palette, and commit/receipt
    * dates as ship + md5-derived 0..44 day offsets in exact epoch-micros
    * integer arithmetic (identical in both engines; no interval semantics
    * involved). ~Half of lines end up "late" (receipt > commit), which is
    * what gives Q12's split and Q21's waiting-supplier set real
    * selectivity. All three derivations are codegen'd per row at the scan. */
  private def lineitemExt(s: SparkSession, dir: String): DataFrame = {
    val h = md5(concat(col("l_orderkey").cast("string"), lit("|"),
      col("l_linenumber").cast("string")))
    val modes = array(Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP",
      "TRUCK").map(lit): _*)
    def days(from: Int): Column =
      conv(substring(h, from, 4), 16, 10).cast("long") % 45 * 86400000000L
    // l_shipdate reads as TimestampType (LTZ) because Engine pins
    // inferTimestampNTZ=false; the cast below is then a no-op, kept so the
    // derivation stays correct even if a session reads the column as NTZ
    // (session tz is pinned UTC, so either way unix_micros equals the
    // oracle's epoch_us)
    val shipUs = unix_micros(col("l_shipdate").cast("timestamp"))
    t(s, dir, "lineitem")
      .withColumn("l_shipmode", element_at(modes,
        (conv(substring(h, 1, 4), 16, 10).cast("int") % 7) + 1))
      .withColumn("l_commitdate", timestamp_micros(shipUs + days(5)))
      .withColumn("l_receiptdate", timestamp_micros(shipUs + days(9)))
  }

  /** The lineitem extension as a DuckDB CTE (`le`), mirroring [[lineitemExt]]. */
  private val lineitemExtSql: String =
    """le AS (
        SELECT *,
               (['AIR','FOB','MAIL','RAIL','REG AIR','SHIP','TRUCK'])[
                 CAST(('0x' || substr(md5(l_orderkey || '|' || l_linenumber), 1, 4))::BIGINT % 7 AS INTEGER) + 1] AS l_shipmode,
               make_timestamp(epoch_us(l_shipdate)
                 + (('0x' || substr(md5(l_orderkey || '|' || l_linenumber), 5, 4))::BIGINT % 45) * 86400000000) AS l_commitdate,
               make_timestamp(epoch_us(l_shipdate)
                 + (('0x' || substr(md5(l_orderkey || '|' || l_linenumber), 9, 4))::BIGINT % 45) * 86400000000) AS l_receiptdate
        FROM lineitem)"""

  val queries: Seq[Query] = Seq(
    // --- scans / projection / filter (reference O2, O12, O9) ---------------
    Query("q_scan_project", (s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_totalprice") > 150000.0)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
         FROM orders WHERE o_totalprice > 150000.0"""),
    Query("q_filter_watermark", (s, dir) => {
      // Watermark-style strict > predicate (reference O9, airflow_to_gcs.py:162-172)
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") > to_timestamp(lit("1997-06-30 00:00:00")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), max("l_shipdate").as("max_ship"))
    }, oracle =
      """SELECT l_returnflag, count(*) AS n_rows, max(l_shipdate) AS max_ship
         FROM lineitem WHERE l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
         GROUP BY l_returnflag"""),
    Query("q_global_max", (s, dir) => {
      // Global ungrouped MAX — the reference's watermark query (O3/O4)
      t(s, dir, "orders").agg(
        max("o_orderdate").as("max_orderdate"),
        max("o_totalprice").as("max_price"),
        count(lit(1)).as("n_rows"))
    }, oracle =
      """SELECT max(o_orderdate) AS max_orderdate, max(o_totalprice) AS max_price,
                count(*) AS n_rows FROM orders"""),

    // --- aggregation -------------------------------------------------------
    Query("q1_agg", (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base"),
        dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc"),
        round(davg(col("l_quantity")), 6).as("avg_qty"),
        round(davg(col("l_extendedprice")), 6).as("avg_price"),
        count(lit(1)).as("n_rows"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc,
                round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)/count(l_quantity), 6) AS avg_qty,
                round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)/count(l_extendedprice), 6) AS avg_price,
                count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    Query("q_agg_having", (s, dir) => {
      t(s, dir, "part")
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
             round(davg(col("p_retailprice")), 6).as("avg_price"))
        .filter(col("n_parts") >= 5)
    }, oracle =
      """SELECT p_brand, count(*) AS n_parts,
                round(CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)/count(p_retailprice), 6) AS avg_price
         FROM part GROUP BY p_brand HAVING count(*) >= 5"""),
    Query("q_bucket_case", (s, dir) => {
      t(s, dir, "orders")
        .withColumn("bucket",
          when(col("o_totalprice") < 50000.0, "low")
            .when(col("o_totalprice") < 150000.0, "mid")
            .otherwise("high"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
    }, oracle =
      """SELECT CASE WHEN o_totalprice < 50000.0 THEN 'low'
                     WHEN o_totalprice < 150000.0 THEN 'mid' ELSE 'high' END AS bucket,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1"""),
    Query("q_count_distinct", (s, dir) => {
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
    }, oracle =
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag"""),
    Query("q_kmv_distinct", (s, dir) => {
      // custom Aggregator: KMV distinct sketch (k=256), deterministic via
      // md5 — the oracle reproduces the identical estimate with window SQL
      val kmv = graft.functions.KmvDistinct.kmv(256)
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        kmv(col("l_partkey").cast("string")).as("kmv_estimate"),
        countDistinct(col("l_partkey")).as("exact_distinct"))
    }, oracle =
      """WITH h AS (SELECT DISTINCT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS h
                    FROM lineitem),
         r AS (SELECT l_returnflag, h,
                      row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn,
                      count(*) OVER (PARTITION BY l_returnflag) AS nd
               FROM h),
         kth AS (SELECT l_returnflag, max(nd) AS nd,
                        greatest(1, max(CASE WHEN rn = 256
                                 THEN ('0x' || substr(h, 1, 12))::BIGINT END)) AS v
                 FROM r GROUP BY l_returnflag)
         SELECT x.l_returnflag,
                CASE WHEN x.nd < 256 THEN CAST(x.nd AS DOUBLE)
                     ELSE round((255.0 / x.v) * 281474976710656.0, 4) END AS kmv_estimate,
                CAST(x.nd AS BIGINT) AS exact_distinct
         FROM kth x"""),
    Query("q_kmv_reagg", (s, dir) => {
      // sketch MERGEABILITY as a declared query — the property that makes
      // sketches work at 100 TB (build tiny synopses where the data
      // lives, merge synopses instead of rescanning): per-(day,hour) KMV
      // synopses (k = 64 smallest distinct md5(user_id)) merge into a
      // daily synopsis, and the merged estimate must equal the
      // direct-from-raw daily estimate EXACTLY — k-min-of-union-of-k-mins
      // is k-min-overall, so this is an identity, and the oracle hash
      // gates it per day (merged_equals_direct must be true everywhere).
      // Everything after the per-hour rank runs on k·hours rows.
      // Round 11: both synopsis builds go through DISTINCT-mode TopKPerKey
      // (the g_anf/KMV-chain bound) — the dedup folds INTO the bounded
      // heaps, so no corpus-sized `.distinct()` exchange precedes the
      // top-k; pre-exchange state is O(keys·k). Payload = (key, order)
      // columns exactly, so heap-distinct ≡ distinct-then-heap.
      val K = 64
      val raw = t(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(date_trunc("day", col("ts")).as("day"),
          hour(col("ts")).as("hr"), md5(col("user_id").cast("string")).as("h"))
      def estimate(syn: DataFrame): DataFrame = syn
        .withColumn("rn", row_number().over(
          Window.partitionBy("day").orderBy("h")))
        .filter(col("rn") <= K)
        .groupBy("day")
        .agg(count(lit(1)).as("cnt"),
          max(when(col("rn") === K,
            conv(substring(col("h"), 1, 12), 16, 10).cast("long"))).as("v"))
        .select(col("day"),
          when(col("cnt") < K, col("cnt").cast("double"))
            .otherwise(round(lit((K - 1).toDouble) / col("v")
              * 281474976710656.0, 4)).as("est"))
      val hourlySyn = org.apache.spark.sql.GraftPlanBridge
        .topKPerKeyDistinct(raw, Seq("day", "hr"), Seq(("h", true)), K)
        .select("day", "h").distinct() // cross-hour dedup: ≤ 24·K rows/day
      val merged = estimate(hourlySyn)
        .withColumnRenamed("est", "est_merged")
      val direct = estimate(org.apache.spark.sql.GraftPlanBridge
        .topKPerKeyDistinct(raw.select("day", "h"), Seq("day"),
          Seq(("h", true)), K))
        .withColumnRenamed("est", "est_direct")
      merged.join(direct, "day")
        .select(col("day"), col("est_merged"), col("est_direct"),
          (col("est_merged") === col("est_direct")).as("merged_equals_direct"))
    }, oracle =
      // the identical two synopsis chains: per-hour k-min → union → daily
      // k-min (merged) vs raw → daily k-min (direct); the estimates must
      // agree exactly, which the boolean column states and the hash gates
      """WITH h AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                           date_part('hour', ts) AS hr,
                           md5(CAST(user_id AS VARCHAR)) AS h
                    FROM events WHERE user_id IS NOT NULL),
         hs AS (SELECT day, h FROM (
                  SELECT day, h, row_number() OVER (PARTITION BY day, hr
                           ORDER BY h) AS hrn FROM h)
                WHERE hrn <= 64),
         hsd AS (SELECT DISTINCT day, h FROM hs),
         mr AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
                FROM hsd),
         me AS (SELECT day, count(*) AS cnt,
                       max(CASE WHEN rn = 64
                            THEN ('0x' || substr(h, 1, 12))::BIGINT END) AS v
                FROM mr WHERE rn <= 64 GROUP BY day),
         mest AS (SELECT day,
                    CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
                         ELSE round(63.0 / v * 281474976710656.0, 4) END AS est_merged
                  FROM me),
         dd AS (SELECT DISTINCT day, h FROM h),
         dr AS (SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
                FROM dd),
         de AS (SELECT day, count(*) AS cnt,
                       max(CASE WHEN rn = 64
                            THEN ('0x' || substr(h, 1, 12))::BIGINT END) AS v
                FROM dr WHERE rn <= 64 GROUP BY day),
         dest AS (SELECT day,
                    CASE WHEN cnt < 64 THEN CAST(cnt AS DOUBLE)
                         ELSE round(63.0 / v * 281474976710656.0, 4) END AS est_direct
                  FROM de)
         SELECT m.day, m.est_merged, d.est_direct,
                m.est_merged = d.est_direct AS merged_equals_direct
         FROM mest m JOIN dest d ON m.day = d.day"""),
    Query("q_kmv_overlap", (s, dir) => {
      // KMV sketch SET ALGEBRA: estimated Jaccard overlap between the
      // user populations of every event-type pair. Per type keep the
      // k=128 smallest md5(user_id) hashes (the KMV synopsis — bounded
      // state, mergeable, deterministic); for a pair, rank the UNION of
      // the two synopses and count members of both among the k smallest —
      // matches/k is the standard KMV Jaccard estimator (Beyer et al.,
      // SIGMOD'07). Everything after the per-type top-k runs on
      // k·types rows — the 100 TB profile is ONE pass over events + a
      // sketch-sized tail; the tiny type-dim crossJoin is a sanctioned
      // broadcast (like q_cross's 25-row dim). Round 11: the synopsis
      // build is DISTINCT-mode TopKPerKey (the g_anf/KMV-chain bound) —
      // no corpus-sized `.distinct()` exchange, pre-exchange state
      // O(types·k); payload = (key, order) exactly, so heap-distinct ≡
      // distinct-then-heap.
      val K = 128
      val topk = org.apache.spark.sql.GraftPlanBridge.topKPerKeyDistinct(
        t(s, dir, "events")
          .filter(col("event_type").isNotNull && col("user_id").isNotNull)
          .select(col("event_type"),
            md5(col("user_id").cast("string")).as("h")),
        Seq("event_type"), Seq(("h", true)), K)
      val types = topk.select(col("event_type").as("ty")).distinct()
      val ea = topk.select(col("event_type").as("ta"), col("h"))
        .crossJoin(broadcast(types)).filter(col("ta") < col("ty"))
        .select(col("ta"), col("ty").as("tb"), col("h"),
          lit(1).as("isa"), lit(0).as("isb"))
      val eb = topk.select(col("event_type").as("tb"), col("h"))
        .crossJoin(broadcast(types)).filter(col("ty") < col("tb"))
        .select(col("ty").as("ta"), col("tb"), col("h"),
          lit(0).as("isa"), lit(1).as("isb"))
      ea.unionByName(eb)
        .groupBy("ta", "tb", "h")
        .agg(max(col("isa")).as("ina"), max(col("isb")).as("inb"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("ta", "tb").orderBy("h")))
        .filter(col("rn") <= K)
        .groupBy("ta", "tb")
        .agg(count(lit(1)).as("k_used"),
          sum(col("ina") * col("inb")).as("matches"))
        .select(col("ta"), col("tb"), col("k_used"), col("matches"),
          round(col("matches").cast("double") / col("k_used"), 6)
            .as("jaccard_est"))
    }, oracle =
      """WITH hs AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
                     FROM events
                     WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         topk AS (SELECT event_type, h FROM (
                    SELECT event_type, h,
                           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                    FROM hs) rr WHERE rn <= 128),
         types AS (SELECT DISTINCT event_type AS ty FROM topk),
         ea AS (SELECT t1.event_type AS ta, ty AS tb, t1.h, 1 AS isa, 0 AS isb
                FROM topk t1 CROSS JOIN types WHERE t1.event_type < ty),
         eb AS (SELECT ty AS ta, t2.event_type AS tb, t2.h, 0 AS isa, 1 AS isb
                FROM topk t2 CROSS JOIN types WHERE ty < t2.event_type),
         u AS (SELECT ta, tb, h, max(isa) AS ina, max(isb) AS inb
               FROM (SELECT * FROM ea UNION ALL SELECT * FROM eb) ab
               GROUP BY 1, 2, 3),
         r AS (SELECT ta, tb, ina, inb,
                      row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
               FROM u)
         SELECT ta, tb, count(*) AS k_used,
                CAST(sum(ina*inb) AS BIGINT) AS matches,
                round(CAST(sum(ina*inb) AS DOUBLE)/count(*), 6) AS jaccard_est
         FROM r WHERE rn <= 128 GROUP BY 1, 2"""),
    Query("q_sample_est", (s, dir) => {
      // approximate query processing by deterministic CLUSTER sampling:
      // whole orders are sampled at 1/64 (md5 2-hex prefix < '04' ⇔
      // 4/256 — lexicographic, engine-neutral), so an order's line items
      // stay together (the honest AQP unit — row-level sampling breaks
      // intra-order correlation); revenue estimate = 64 × the decimal
      // sample sum (×64 is a power of two: exact in a double). The exact
      // sum runs alongside and the ratio exposes the estimator's honest
      // error — hash-gated, so the sampling contract itself is proven.
      // At scale the sample predicate prunes at the orders scan and
      // lineitem pays one semi join against the 1/64 key set (bloom- or
      // broadcast-able); the exact branch exists only for this demo.
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val sampled = t(s, dir, "orders")
        .filter(substring(md5(col("o_orderkey").cast("string")), 1, 2) < "04")
        .select("o_orderkey")
      val est = li
        .join(sampled, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .agg((sum(rev).cast("double") * lit(64.0)).as("est_revenue"))
      val exact = li.agg(sum(rev).cast("double").as("exact_revenue"))
      est.crossJoin(exact)
        .select(col("est_revenue"), col("exact_revenue"),
          round(col("est_revenue") / col("exact_revenue"), 6).as("ratio"))
    }, oracle =
      """WITH sm AS (SELECT CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) * 64.0 AS est_revenue
                     FROM lineitem
                     WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                           WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '04')),
         ex AS (SELECT CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS exact_revenue
                FROM lineitem)
         SELECT est_revenue, exact_revenue,
                round(est_revenue/exact_revenue, 6) AS ratio
         FROM sm, ex"""),
    Query("q_approx_distinct", (s, dir) => {
      // HLL sketch. The raw estimate is engine-specific bits, so the
      // oracle-checkable contract is the accuracy bound itself: the output
      // carries the exact count plus a flag that the HLL estimate (default
      // rsd 5%) landed within ±10%; the oracle asserts the flag is TRUE.
      // If the sketch ever drifts out of bound the hash check fails — the
      // bound is proven per run, not trusted. (CoreSpec asserts the tighter
      // ±5% at test SFs.)
      t(s, dir, "lineitem").groupBy("l_returnflag").agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts"))
            <= col("exact_parts") * 0.10).as("approx_within_10pct"))
    }, oracle =
      // the engine emits TRUE iff its HLL estimate is within ±10% of exact;
      // the oracle demands TRUE, turning the sketch's error bound into a
      // hash-checked per-run assertion
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
                TRUE AS approx_within_10pct
         FROM lineitem GROUP BY l_returnflag"""),
    Query("q_mode", (s, dir) => {
      // exact MODE per group, deterministic tie-break (highest count,
      // then lexicographically smallest value) via min(struct(-c, v)) —
      // the argmax idiom, two map-side-combined aggs, no sort/window.
      // Engines disagree on their built-in mode()'s tie rule; this
      // formulation pins it.
      t(s, dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("c"))
        .groupBy("o_orderstatus")
        .agg(min(struct((-col("c")).as("nc"),
          col("o_orderpriority").as("v"))).as("m"))
        .select(col("o_orderstatus"), col("m.v").as("mode_priority"),
          (-col("m.nc")).as("n_orders"))
    }, oracle =
      """WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS c
                    FROM orders GROUP BY 1, 2),
         m AS (SELECT o_orderstatus,
                      min(struct_pack(nc := -c, v := o_orderpriority)) AS m
               FROM c GROUP BY 1)
         SELECT o_orderstatus, m.v AS mode_priority,
                CAST(-(m.nc) AS BIGINT) AS n_orders
         FROM m"""),
    Query("q_hhi", (s, dir) => {
      // supplier-market concentration per order year: the Herfindahl–
      // Hirschman index Σ shareᵢ². Each share is ONE IEEE division of
      // exact decimals (identical operands cross-engine), the square is
      // one exact-rounded multiply, and the SUM goes through
      // DECIMAL(28,16) contributions — order-independent, the repo's
      // contribution-sum idiom — so partitioning can't flake the hash.
      // Shape: fact join + two-level agg + one year-keyed window.
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))
      val base = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"), col("l_suppkey"))
        .agg(sum(rev).as("r"))
      val w = Window.partitionBy("o_year")
      base.withColumn("tot", sum(col("r")).over(w))
        .withColumn("share", col("r").cast("double") / col("tot").cast("double"))
        .groupBy("o_year")
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum((col("share") * col("share")).cast(DecimalType(28, 16)))
            .cast("double"), 6).as("hhi"))
    }, oracle =
      """WITH base AS (
           SELECT year(o_orderdate) AS o_year, l_suppkey,
                  sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS r
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           GROUP BY 1, 2),
         sh AS (SELECT o_year,
                       CAST(r AS DOUBLE) /
                       CAST(sum(r) OVER (PARTITION BY o_year) AS DOUBLE) AS share
                FROM base)
         SELECT o_year, count(*) AS n_suppliers,
                round(CAST(sum(CAST(share*share AS DECIMAL(28,16))) AS DOUBLE), 6) AS hhi
         FROM sh GROUP BY 1"""),
    Query("q_gini", (s, dir) => {
      // Gini coefficient of total supplier revenue — the exact-rank
      // formulation G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over values sorted
      // ascending with a suppkey tie-break: rank·value products and both
      // sums are EXACT DECIMAL (an integer times a decimal), so the only
      // FP is the fixed closing chain on identical operands. The global
      // rank runs on the SUPPLIER-cardinality rollup (dimension-sized;
      // the fact table never enters a single-partition window) — the same
      // reduce-then-rank posture as q_skew_report.
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))
      val base = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey")).agg(sum(rev).as("r"))
      val ranked = base
        .withColumn("rn", row_number().over(
          Window.orderBy(col("r"), col("l_suppkey"))))
      ranked.agg(count(lit(1)).as("n"),
          sum(col("rn") * col("r")).as("s1"), sum(col("r")).as("s0"))
        .select(col("n").as("n_suppliers"),
          round(lit(2.0) * col("s1").cast("double") /
            (col("n").cast("double") * col("s0").cast("double")) -
            (col("n").cast("double") + lit(1.0)) / col("n").cast("double"), 6)
            .as("gini"))
    }, oracle =
      """WITH base AS (
           SELECT l_suppkey,
                  sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS r
           FROM lineitem GROUP BY 1),
         ranked AS (SELECT r, row_number() OVER (ORDER BY r, l_suppkey) AS rn
                    FROM base),
         a AS (SELECT count(*) AS n, sum(rn * r) AS s1, sum(r) AS s0 FROM ranked)
         SELECT n AS n_suppliers,
                round(2.0 * CAST(s1 AS DOUBLE) /
                      (CAST(n AS DOUBLE) * CAST(s0 AS DOUBLE)) -
                      (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
         FROM a"""),
    Query("q_weighted_median", (s, dir) => {
      // quantity-weighted median price per return flag — the WEIGHTED
      // percentile the exact-rank family lacks (percentile() has no
      // weight argument in either engine). Cumulative INTEGER weights
      // (quantities are integral) over the (price, orderkey, linenumber)
      // total order; the winner is the first value whose doubled
      // cumulative weight reaches the total — selection is pure integer
      // comparison, the output is a raw column value: zero FP anywhere.
      // Shape: one key-partitioned window sort + a suffix-min aggregate.
      val li = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_quantity").cast("long").as("w"),
          col("l_orderkey"), col("l_linenumber"))
      val wOrd = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
      val wAll = Window.partitionBy("l_returnflag")
      li.withColumn("cw", sum(col("w")).over(wOrd))
        .withColumn("tw", sum(col("w")).over(wAll))
        .filter(col("cw") * 2 >= col("tw"))
        .groupBy("l_returnflag")
        .agg(min(col("l_extendedprice")).as("weighted_median"),
          min(col("tw")).as("total_qty"))
    }, oracle =
      // integer cumulative weights over a total order; the crossing row's
      // price is the suffix min — no interpolation, no FP selection
      """WITH li AS (SELECT l_returnflag, l_extendedprice,
                            CAST(l_quantity AS BIGINT) AS w,
                            l_orderkey, l_linenumber
                     FROM lineitem),
         r AS (SELECT l_returnflag, l_extendedprice, w,
                      sum(w) OVER (PARTITION BY l_returnflag
                        ORDER BY l_extendedprice, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
                      sum(w) OVER (PARTITION BY l_returnflag) AS tw
               FROM li)
         SELECT l_returnflag, min(l_extendedprice) AS weighted_median,
                CAST(min(tw) AS BIGINT) AS total_qty
         FROM r WHERE cw * 2 >= tw GROUP BY 1"""),
    Query("q_mad", (s, dir) => {
      // robust dispersion: median absolute deviation per group — the
      // outlier-resistant complement to q_outliers' mean/sigma z-score
      // (one wild value shifts mean AND sigma; the median pair shrugs).
      // Medians via the EXACT-RANK formulation, not percentile(): Spark's
      // percentile() and DuckDB's quantile_cont interpolate with different
      // FP forms ((1-f)*lo+f*hi vs lo+f*(hi-lo)) that can differ by an ulp
      // on even-count groups. Here the median is (v@⌈n/2⌉ + v@⌊n/2⌋+1)/2 —
      // the value AT a rank is engine-independent (the sorted multiset is
      // unique even when row_number ties are not), and one IEEE add + one
      // division of identical operands are bit-identical by contract.
      // Shape: per-group window rank (key-partitioned sort), join back on
      // the group key for deviations, second window — all key-equality.
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select("event_type", "value")
      def rankMedian(df: org.apache.spark.sql.DataFrame, vCol: String): Column = {
        // caller supplies rn (rank by vCol) and n (group size) columns
        (min(when(col("rn") === expr("(n + 1) DIV 2"), col(vCol))) +
          min(when(col("rn") === expr("n DIV 2 + 1"), col(vCol)))) / 2.0
      }
      val wOrd = Window.partitionBy("event_type").orderBy("value")
      val wAll = Window.partitionBy("event_type")
      val ranked = ev
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
      val med = ranked.groupBy("event_type")
        .agg(rankMedian(ranked, "value").as("med"), first(col("n")).as("n"))
      val wDev = Window.partitionBy("event_type").orderBy("d")
      val dev = ev.join(med, "event_type")
        .select(col("event_type"), abs(col("value") - col("med")).as("d"),
          col("med"), col("n"))
        .withColumn("rn", row_number().over(wDev))
      dev.groupBy("event_type")
        .agg(round(first(col("med")), 4).as("med"),
          round(rankMedian(dev, "d"), 4).as("mad"),
          first(col("n")).as("n"))
    }, oracle =
      // exact-rank medians (see the query comment): value at ranks
      // ⌈n/2⌉ / ⌊n/2⌋+1, one IEEE add + /2.0 — no quantile interpolation
      """WITH ev AS (SELECT event_type, value FROM events
                     WHERE event_type IS NOT NULL AND value IS NOT NULL),
         r AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM ev),
         m AS (SELECT event_type,
                      (min(CASE WHEN rn = (n + 1) // 2 THEN value END) +
                       min(CASE WHEN rn = n // 2 + 1 THEN value END)) / 2.0 AS med,
                      max(n) AS n
               FROM r GROUP BY 1),
         d AS (SELECT ev.event_type, abs(ev.value - m.med) AS d, m.med, m.n
               FROM ev JOIN m USING (event_type)),
         rd AS (SELECT event_type, d, med, n,
                       row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
                FROM d)
         SELECT event_type, round(max(med), 4) AS med,
                round((min(CASE WHEN rn = (n + 1) // 2 THEN d END) +
                       min(CASE WHEN rn = n // 2 + 1 THEN d END)) / 2.0, 4) AS mad,
                max(n) AS n
         FROM rd GROUP BY 1"""),
    Query("q_skyline", (s, dir) => {
      // 2-D Pareto skyline (Borzsonyi et al., "The Skyline Operator",
      // ICDE'01): orders not strictly dominated on (lower price, later
      // date). The O(n log n) cummax formulation instead of the naive
      // all-pairs anti-join: per distinct price the max date, then the
      // running max over strictly-cheaper prices (rows frame over the
      // UNIQUE-price frame = strict-cheaper prefix); a row survives iff no
      // strictly cheaper order has a strictly later date.
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice", "o_orderdate")
      val perPrice = o.groupBy("o_totalprice")
        .agg(max("o_orderdate").as("pmax"))
      val w = Window.orderBy(col("o_totalprice"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val cum = perPrice
        .withColumn("cheaper_max", max("pmax").over(w))
        .select("o_totalprice", "cheaper_max")
      o.join(cum, "o_totalprice")
        .filter(col("cheaper_max").isNull ||
          !(col("cheaper_max") > col("o_orderdate")))
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    }, oracle =
      """WITH pp AS (SELECT o_totalprice, max(o_orderdate) AS pmax
                     FROM orders GROUP BY 1),
         cum AS (SELECT o_totalprice,
                        max(pmax) OVER (ORDER BY o_totalprice
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                          AS cheaper_max
                 FROM pp)
         SELECT o.o_orderkey, o.o_totalprice, o.o_orderdate
         FROM orders o JOIN cum USING (o_totalprice)
         WHERE cum.cheaper_max IS NULL
            OR NOT (cum.cheaper_max > o.o_orderdate)"""),
    Query("q_outliers", (s, dir) => {
      // z-score anomaly detection per event type: |value - mean| > 3σ
      // (population σ). Mean/variance from exact decimal sums (value is
      // 2-decimal, its square exact at scale 4) so the cut is identical in
      // both engines; z rounds for output, the predicate uses the
      // unrounded value.
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
      val stats = ev.groupBy("event_type").agg(
        (sum(col("value").cast(DecimalType(18, 2))).cast("double") /
          count(lit(1))).as("mu"),
        (sum((col("value") * col("value")).cast(DecimalType(28, 4)))
          .cast("double") / count(lit(1))).as("musq"))
        .withColumn("sigma", sqrt(col("musq") - col("mu") * col("mu")))
        .select("event_type", "mu", "sigma")
      ev.join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("mu")) / col("sigma"))
        .filter(abs(col("z")) > 3.0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(col("z"), 6).as("z"))
    }, oracle =
      """WITH s AS (
           SELECT event_type,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS mu,
                  CAST(sum(CAST(value*value AS DECIMAL(28,4))) AS DOUBLE)/count(*) AS musq
           FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
           GROUP BY 1)
         SELECT e.event_id, e.event_type, e.value,
                round((e.value - s.mu) / sqrt(s.musq - s.mu*s.mu), 6) AS z
         FROM events e JOIN s USING (event_type)
         WHERE e.value IS NOT NULL
           AND abs((e.value - s.mu) / sqrt(s.musq - s.mu*s.mu)) > 3.0"""),
    Query("q_er_clusters", (s, dir) => {
      // entity-resolution end-to-end: fuzzy name pairs (the q_fuzzy_join
      // plan) closed into entity GROUPS via connected components — matches
      // are not transitive, so grouping (not pairwise pick-one) is the
      // correct canonicalization, same argument as near-dup clustering.
      val names = t(s, dir, "part").select("p_name").distinct()
        .withColumn("blk", regexp_extract(col("p_name"), "[a-z]+$", 0))
      val pairs = names.as("a").join(names.as("b"),
          col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
        .filter(levenshtein(col("a.p_name"), col("b.p_name")) <= 3)
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"))
      graft.operators.Components
        .connectedComponents(pairs, "name_a", "name_b")
        .select(col("node").as("name"), col("comp").as("canonical_name"))
    }, oracle =
      // the fuzzy-pair graph closed transitively (recursive CTE at oracle
      // scale; the engine min-label-propagates distributed)
      """WITH RECURSIVE names AS (
           SELECT DISTINCT p_name, regexp_extract(p_name, '[a-z]+$') AS blk
           FROM part),
         prs AS (SELECT a.p_name AS name_a, b.p_name AS name_b
                 FROM names a JOIN names b
                   ON a.blk = b.blk AND a.p_name < b.p_name
                 WHERE levenshtein(a.p_name, b.p_name) <= 3),
         edges AS (SELECT name_a AS src, name_b AS dst FROM prs
                   UNION SELECT name_b, name_a FROM prs),
         reach AS (SELECT src AS node, src AS comp FROM edges
                   UNION
                   SELECT r.node, e.dst AS comp FROM reach r
                   JOIN edges e ON e.src = r.comp)
         SELECT node AS name, min(comp) AS canonical_name
         FROM reach GROUP BY 1"""),
    Query("q_ntile", (s, dir) =>
      // exact equi-depth deciles (profiling companion to q_histogram's
      // equi-width buckets). The global ntile sort is the exact
      // formulation — at 100 TB the same report comes from
      // approx_percentile cut points + a bucket join; this query IS the
      // oracle-checkable exact contract those cuts approximate. Unique
      // tie-break (orderkey) makes bucket membership deterministic.
      t(s, dir, "orders")
        .withColumn("decile", ntile(10).over(
          Window.orderBy(col("o_totalprice"), col("o_orderkey"))))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"),
          dsum(col("o_totalprice")).as("sum_price")), oracle =
      """SELECT decile, count(*) AS n_orders, min(o_totalprice) AS lo,
                max(o_totalprice) AS hi,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM (SELECT o_totalprice,
                      ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
               FROM orders)
         GROUP BY 1"""),
    Query("q_tpch_q3", (s, dir) => {
      // TPC-H Q3 analogue (shipping-priority revenue): selective dim filter
      // broadcast into the fact-fact join, decimal-exact revenue, top-10
      // with a unique tie-break. The canonical star-join + top-k shape.
      val cutoff = to_timestamp(lit("1998-01-01 00:00:00"))
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = t(s, dir, "orders").filter(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = t(s, dir, "lineitem").filter(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }, oracle =
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey ASC
         LIMIT 10"""),
    Query("q_tpch_q5", (s, dir) => {
      // TPC-H Q5 analogue (local-supplier volume): six-table snowflake with
      // the region->nation->supplier chain pre-joined driver-free and
      // broadcast into the fact side; customer joins on BOTH custkey and
      // the supplier's nation (the Q5 locality condition).
      val asiaNations = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = t(s, dir, "supplier")
        .join(broadcast(asiaNations),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "n_nationkey", "n_name")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .select("o_orderkey", "o_custkey")
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(c, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
    }, oracle =
      """SELECT n_name,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1"""),
    Query("q_tpch_q6", (s, dir) => {
      // TPC-H Q6 analogue (forecasting revenue change): the canonical
      // pushdown microbenchmark — every predicate (shipdate range,
      // discount band, quantity cap) reaches the parquet scan as a pushed
      // filter and the agg is one map-side-combined decimal sum. No joins,
      // no shuffle beyond the single-row combine.
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(dsum4(col("l_extendedprice") * col("l_discount")).as("revenue"))
    }, oracle =
      """SELECT CAST(sum(CAST(l_extendedprice*l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.05 AND 0.07
           AND l_quantity < 24"""),
    Query("q_tpch_q8", (s, dir) => {
      // TPC-H Q8 analogue (national market share): of all ECONOMY-part
      // revenue sold to region-ASIA customers per order year, the share
      // supplied by NATION_2 — two conditional decimal sums, ONE IEEE
      // division. All dims broadcast; lineitem shuffles once (orderkey).
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))
      val econPart = t(s, dir, "part")
        .filter(col("p_type") === "ECONOMY").select("p_partkey")
      val asiaCust = t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA").select("c_custkey")
      val suppNation = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey",
          "l_extendedprice", "l_discount")
        .join(broadcast(econPart), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
            .join(asiaCust, col("o_custkey") === col("c_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_2", rev)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double") /
          sum(rev).cast("double")).as("mkt_share"))
    }, oracle =
      """SELECT year(o_orderdate) AS o_year,
                CAST(sum(CASE WHEN n2.n_name = 'NATION_2'
                         THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                  AS mkt_share
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         GROUP BY 1"""),
    Query("q_tpch_q9", (s, dir) => {
      // TPC-H Q9 analogue (product-type profit): amount = revenue minus a
      // 10%-of-retail cost proxy (the schema has no partsupp supplycost).
      // Determinism: qty·retail·0.1 is the same left-associated IEEE
      // product in both engines, its DECIMAL(18,4) cast rounds HALF_UP
      // identically, and from there everything is exact decimal algebra.
      // Parts filtered by name ('%widget%'),
      // supplier nation rides a broadcast, profit groups by nation × year.
      val amount =
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4)) -
        (col("l_quantity") * col("p_retailprice") * lit(0.1))
          .cast(DecimalType(18, 4))
      val p = t(s, dir, "part").filter(col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
      val suppNation = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
            .select(col("n_nationkey").as("sn_key"),
              col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "supp_nation")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("supp_nation").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(amount).cast("double").as("sum_profit"))
    }, oracle =
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4)) -
                         CAST(l_quantity*p_retailprice*0.1 AS DECIMAL(18,4))) AS DOUBLE)
                  AS sum_profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         GROUP BY 1, 2"""),
    Query("q_tpch_q7", (s, dir) => {
      // TPC-H Q7 analogue (volume shipping): cross-border trade volume by
      // (supplier nation, customer nation, ship year). The two nation
      // dims ride in on broadcasts stitched to supplier/customer; the
      // fact scan carries the shipdate filter (pushed to parquet) and the
      // cross-border predicate runs post-join. Generalized from the
      // reference query's 2-nation pick to ALL ordered pairs — same plan
      // shape, denser result (bounded by nations² · years).
      val n = t(s, dir, "nation").select("n_nationkey", "n_name")
      val supp = t(s, dir, "supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = t(s, dir, "customer")
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
          "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
    }, oracle =
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                year(l_shipdate) AS l_year,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1998-01-01'
           AND sn.n_name <> cn.n_name
         GROUP BY 1, 2, 3"""),
    Query("q_tpch_q10", (s, dir) => {
      // TPC-H Q10 analogue (returned-item revenue ranking): quarter of
      // orders × returned lines → per-customer revenue, top 20. The
      // revenue aggregate stays DECIMAL through the ORDER BY (exact
      // cross-engine ordering — the contract's "order by the UNROUNDED
      // value"), cast to double only at output; c_custkey breaks ties.
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01 00:00:00")))
        .select("o_orderkey", "o_custkey")
      val rev = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("rev_dec"))
      rev.join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .orderBy(col("rev_dec").desc, col("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"),
          col("rev_dec").cast("double").as("revenue"),
          col("c_acctbal"), col("n_name"))
    }, oracle =
      """WITH rev AS (
           SELECT o_custkey,
                  sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS rev_dec
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT c_custkey, c_name, CAST(rev_dec AS DOUBLE) AS revenue,
                c_acctbal, n_name
         FROM rev JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY rev_dec DESC, c_custkey LIMIT 20"""),
    Query("q_tpch_q4", (s, dir) => {
      // TPC-H Q4 analogue (order-priority checking): EXISTS with a
      // CORRELATED INEQUALITY — the semi join carries both the key
      // equality and the lateness predicate (l_shipdate > o_orderdate +
      // 60 days), the shape plain q_semi_join can't express. The quarter
      // filter pushes to the orders scan; lineitem projects two columns.
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("o_orderdate") < to_timestamp(lit("1996-04-01 00:00:00")))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      o.join(t(s, dir, "lineitem").select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }, oracle =
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate < TIMESTAMP '1996-04-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1"""),
    Query("q_tpch_q15", (s, dir) => {
      // TPC-H Q15 analogue (top supplier): quarterly revenue view + the
      // scalar max joined back as an EQUI join on the DECIMAL revenue
      // (exact equality — no FP compare gates the winner; ties keep all
      // rows, the TPC-H semantics). Casts to double only at output.
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
        .groupBy("l_suppkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast(DecimalType(18, 4))).as("total_rev_dec"))
      val mx = rev.agg(max(col("total_rev_dec")).as("mx"))
      rev.join(broadcast(mx), col("total_rev_dec") === col("mx"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("total_rev_dec").cast("double").as("total_revenue"))
    }, oracle =
      """WITH rev AS (
           SELECT l_suppkey,
                  sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS total_rev_dec
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1996-04-01'
           GROUP BY 1)
         SELECT s_suppkey, s_name, CAST(total_rev_dec AS DOUBLE) AS total_revenue
         FROM rev JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_rev_dec = (SELECT max(total_rev_dec) FROM rev)"""),
    Query("q_tpch_q16", (s, dir) => {
      // TPC-H Q16 analogue (supplier profile counts): distinct
      // part–supplier pairs (the schema has no partsupp table; lineitem's
      // distinct pairs are its moral equivalent) minus a blacklist
      // (negative-balance suppliers) via anti join, then COUNT DISTINCT
      // per part profile — re-aggregation over a join with exclusion.
      val bad = t(s, dir, "supplier").filter(col("s_acctbal") < 0.0)
        .select(col("s_suppkey").as("bad_key"))
      t(s, dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(bad), col("l_suppkey") === col("bad_key"), "left_anti")
        .join(t(s, dir, "part").select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }, oracle =
      """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
         FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON l_partkey = p_partkey
         WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0.0)
         GROUP BY 1, 2"""),
    Query("q_tpch_q13", (s, dir) => {
      // TPC-H Q13 analogue (customer order-count distribution): LEFT join
      // so zero-order customers survive with c_count=0, then the
      // distribution-of-counts re-aggregation. The priority filter rides
      // the join condition (= pre-filtering the right side of a left
      // join). Both aggs are map-side partial; the second groups on a
      // ~tens-cardinality key.
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_orderkey", "o_custkey")
      t(s, dir, "customer").select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    }, oracle =
      """SELECT c_count, count(*) AS custdist
         FROM (SELECT c_custkey, count(o_orderkey) AS c_count
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
               GROUP BY 1) cc
         GROUP BY 1"""),
    Query("q_tpch_q14", (s, dir) => {
      // TPC-H Q14 analogue (promo revenue share): conditional decimal sum
      // over total decimal sum — the ratio is ONE IEEE division of two
      // exact decimals (then one multiply by 100.0, same op order as the
      // oracle), so it is bit-identical cross-engine.
      val rev = (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast(DecimalType(18, 4))
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-03-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1996-04-01 00:00:00")))
        .select("l_partkey", "l_extendedprice", "l_discount")
        .join(t(s, dir, "part").select("p_partkey", "p_type"),
          col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", rev)
            .otherwise(lit(0).cast(DecimalType(18, 4)))).cast("double") /
          sum(rev).cast("double")).as("promo_revenue"))
    }, oracle =
      """SELECT 100.0 *
                CAST(sum(CASE WHEN p_type = 'PROMO'
                         THEN CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) /
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                AS promo_revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE l_shipdate >= TIMESTAMP '1996-03-01'
           AND l_shipdate < TIMESTAMP '1996-04-01'"""),
    Query("q_tpch_q17", (s, dir) => {
      // TPC-H Q17 analogue (small-quantity-order revenue): the correlated
      // avg-quantity subquery decorrelated into a per-part stats join.
      // The 0.2·avg threshold is the exact rational 5·qty·cnt < sum —
      // quantities are integral, so every operand is exact decimal and
      // the comparison cannot flake cross-engine. The brand filter makes
      // the part side tiny → broadcast; the stats frame is equally tiny.
      val p = t(s, dir, "part")
        .filter(col("p_brand") === "Brand#23").select("p_partkey")
      val l = t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      val stats = l.groupBy(col("p_partkey").as("sp_partkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sumq"),
          count(lit(1)).as("cntq"))
      l.join(broadcast(stats), col("l_partkey") === col("sp_partkey"))
        .filter(col("l_quantity").cast(DecimalType(18, 2)) * col("cntq") *
          lit(5) < col("sumq"))
        .agg((dsum(col("l_extendedprice")) / lit(7.0)).as("avg_yearly"))
    }, oracle =
      """WITH l AS (SELECT l_partkey, l_quantity, l_extendedprice
                    FROM lineitem JOIN part ON l_partkey = p_partkey
                    WHERE p_brand = 'Brand#23'),
         stats AS (SELECT l_partkey AS sp_partkey,
                          sum(CAST(l_quantity AS DECIMAL(18,2))) AS sumq,
                          count(*) AS cntq
                   FROM l GROUP BY 1)
         SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
                AS avg_yearly
         FROM l JOIN stats ON l_partkey = sp_partkey
         WHERE CAST(l_quantity AS DECIMAL(18,2)) * cntq * 5 < sumq"""),
    Query("q_tpch_q19", (s, dir) => {
      // TPC-H Q19 analogue (discounted revenue, disjunctive predicates):
      // three OR'd brand/size/quantity conjunctions — the classic test
      // that a disjunction over join-side columns still prunes after the
      // join (and that the scan pushes the partkey-join columns only).
      t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
        .join(t(s, dir, "part").select("p_partkey", "p_brand", "p_size"),
          col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#9" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30)))
        .agg(dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
    }, oracle =
      """SELECT CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#9' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)"""),
    Query("q_tpch_q22", (s, dir) => {
      // TPC-H Q22 analogue (global-market waiting customers): customers
      // with above-average positive balance and no RECENT orders (the
      // synthetic orders table is dense, so "no orders ever" is empty —
      // "churned since 2000" keeps the anti join non-trivial at every
      // SF), per nation. The global-avg threshold is the exact rational
      // bal·cnt > sum against a broadcast 1-row aggregate (sanctioned
      // BNLJ); the no-recent-orders test is a distributed left anti join
      // whose right side carries the pushed-down date filter.
      val c = t(s, dir, "customer")
      val pos = c.filter(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("sumbal"),
          count(lit(1)).as("cntbal"))
      c.select("c_custkey", "c_nationkey", "c_acctbal")
        .crossJoin(broadcast(pos))
        .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("cntbal") >
          col("sumbal"))
        .join(t(s, dir, "orders")
            .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01 00:00:00")))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"), dsum(col("c_acctbal")).as("totacctbal"))
    }, oracle =
      """WITH pos AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS sumbal,
                             count(*) AS cntbal
                      FROM customer WHERE c_acctbal > 0.0)
         SELECT c_nationkey, count(*) AS numcust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
         FROM customer, pos
         WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cntbal > sumbal
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY 1"""),
    Query("q_tpch_q18", (s, dir) => {
      // TPC-H Q18 analogue (large-volume customers): the classic
      // IN (SELECT ... GROUP BY ... HAVING) decorrelated by hand — one
      // fact-side aggregation whose few survivors broadcast back into the
      // fact/dim joins (Q18's threshold keeps survivors tiny by design;
      // AQE reaches the same join pick from runtime stats). No correlated
      // re-scan of lineitem; exact decimal quantity sums.
      val big = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 300.0)
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val c = t(s, dir, "customer").select("c_custkey", "c_name")
      o.join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
    }, oracle =
      """WITH big AS (
           SELECT l_orderkey,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
           FROM lineitem GROUP BY 1
           HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300.0)
         SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
         FROM big
         JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
         ORDER BY o_totalprice DESC, o_orderkey ASC
         LIMIT 100"""),
    Query("q_tpch_q1", (s, dir) => {
      // TPC-H Q1 at FULL fidelity (q1_agg carries the shape; this carries
      // all ten aggregate columns): pricing-summary report with exact
      // decimal sums — scale 2 for single columns, 4 for the 2-factor
      // discount product, 6 for the 3-factor charge product (each factor
      // has 2 decimals, so the product is exact at that scale and the cast
      // rounds the same IEEE double in both engines) — and averages as one
      // double division of the decimal sum by count(*). Pure scan +
      // map-side-combined agg over 4 groups: the canonical pushdown query.
      val price = col("l_extendedprice")
      val disc = col("l_discount")
      val tax = col("l_tax")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1999-06-30 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(price).as("sum_base_price"),
          dsum4(price * (lit(1.0) - disc)).as("sum_disc_price"),
          sum((price * (lit(1.0) - disc) * (lit(1.0) + tax))
            .cast(DecimalType(24, 6))).cast("double").as("sum_charge"),
          (sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double") /
            count(lit(1))).as("avg_qty"),
          (sum(price.cast(DecimalType(18, 2))).cast("double") /
            count(lit(1))).as("avg_price"),
          (sum(disc.cast(DecimalType(18, 2))).cast("double") /
            count(lit(1))).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
              CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
              CAST(sum(CAST(l_extendedprice*(1.0-l_discount)*(1.0+l_tax) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
              CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
              CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
              count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1999-06-30'
         GROUP BY 1, 2"""),
    Query("q_tpch_q12", (s, dir) => {
      // TPC-H Q12 analogue (shipping-mode priority split) on the
      // synthesized shipmode/commit/receipt columns (lineitemExt): the
      // classic conditional-count pivot after a selective fact filter —
      // mode/date predicates prune at the scan (the derived columns are
      // codegen'd scan-side), orders joins on its key once, and the two
      // CASE sums absorb map-side into 2 groups.
      val le = lineitemExt(s, dir)
        .filter(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("l_commitdate") < col("l_receiptdate") &&
          col("l_shipdate") < col("l_commitdate") &&
          col("l_receiptdate") >= to_timestamp(lit("1997-01-01 00:00:00")) &&
          col("l_receiptdate") < to_timestamp(lit("1998-01-01 00:00:00")))
        .select("l_orderkey", "l_shipmode")
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "orders").select("o_orderkey", "o_orderpriority")
        .join(le, col("o_orderkey") === col("l_orderkey"))
        .groupBy("l_shipmode")
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(urgent, 0L).otherwise(1L)).as("low_line_count"))
    }, oracle =
      s"""WITH $lineitemExtSql
         SELECT l_shipmode,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                              THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM orders JOIN le ON o_orderkey = l_orderkey
         WHERE l_shipmode IN ('MAIL','SHIP')
           AND l_commitdate < l_receiptdate AND l_shipdate < l_commitdate
           AND l_receiptdate >= TIMESTAMP '1997-01-01'
           AND l_receiptdate < TIMESTAMP '1998-01-01'
         GROUP BY 1"""),
    Query("q_tpch_q21", (s, dir) => {
      // TPC-H Q21 analogue (suppliers who kept orders waiting): the
      // EXISTS / NOT EXISTS pair hand-decorrelated into one semi and one
      // anti join — a late line (receipt > commit, ~half by construction)
      // counts against its supplier iff the finalized order HAS another
      // supplier (semi join, suppkey inequality residual) and NO OTHER
      // supplier was late (anti join on the late set). Every join is
      // key-equality on orderkey; no correlated re-scan of lineitem.
      val le = lineitemExt(s, dir).select("l_orderkey", "l_suppkey",
        "l_commitdate", "l_receiptdate")
      val late = le.filter(col("l_receiptdate") > col("l_commitdate"))
        .select("l_orderkey", "l_suppkey")
      val l1 = late
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
          .select("o_orderkey"), col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_suppkey")
      val others = le.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
      val lateOthers = late.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"))
      l1
        .join(others, col("l_orderkey") === col("ok2") &&
          col("l_suppkey") =!= col("sk2"), "left_semi")
        .join(lateOthers, col("l_orderkey") === col("ok3") &&
          col("l_suppkey") =!= col("sk3"), "left_anti")
        .join(t(s, dir, "supplier").select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
    }, oracle =
      s"""WITH $lineitemExtSql,
         late AS (SELECT l_orderkey, l_suppkey FROM le
                  WHERE l_receiptdate > l_commitdate),
         l1 AS (SELECT l.l_orderkey, l.l_suppkey FROM late l
                JOIN orders ON o_orderkey = l.l_orderkey
                WHERE o_orderstatus = 'F'
                  AND EXISTS (SELECT 1 FROM le l2
                              WHERE l2.l_orderkey = l.l_orderkey
                                AND l2.l_suppkey <> l.l_suppkey)
                  AND NOT EXISTS (SELECT 1 FROM late l3
                                  WHERE l3.l_orderkey = l.l_orderkey
                                    AND l3.l_suppkey <> l.l_suppkey))
         SELECT s_name, count(*) AS numwait
         FROM l1 JOIN supplier ON s_suppkey = l_suppkey
         GROUP BY 1"""),
    Query("q_tpch_q11", (s, dir) => {
      // TPC-H Q11 analogue (important-stock value share) on the synthesized
      // partsupp (see partsupp()): per-part stock value within one nation's
      // suppliers vs the nation total. The share threshold is the exact
      // integer rational sum·np > 2·total (np = parts in the nation group),
      // so it is SCALE-FREE — "above 2× the average part value" holds rows
      // at every SF where a fixed fraction would empty out — and every
      // operand is an exact integer (cents × qty), compared in DECIMAL(38,0)
      // against DuckDB's HUGEINT so no engine can overflow first. The
      // 1-row total broadcasts (sanctioned BNLJ, the q_tpch_q22 idiom).
      val natps = partsupp(s, dir)
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")
            .filter(col("n_name") === "NATION_3").select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("ps_partkey"),
          (col("ps_availqty") * col("ps_cost_cents")).as("val"))
      val tot = natps.agg(sum(col("val")).as("total"),
        countDistinct(col("ps_partkey")).as("np"))
      natps.groupBy("ps_partkey")
        .agg(sum(col("val")).as("sv"))
        .crossJoin(broadcast(tot))
        .filter(col("sv").cast(DecimalType(38, 0)) * col("np") >
          col("total").cast(DecimalType(38, 0)) * lit(2))
        .select(col("ps_partkey"),
          (col("sv").cast("double") / lit(100.0)).as("value"))
    }, oracle =
      s"""WITH $partsuppSql,
         natps AS (SELECT ps_partkey, ps_availqty * ps_cost_cents AS val
                   FROM ps JOIN supplier ON ps_suppkey = s_suppkey
                           JOIN nation ON s_nationkey = n_nationkey
                   WHERE n_name = 'NATION_3'),
         tot AS (SELECT sum(val) AS total, count(DISTINCT ps_partkey) AS np
                 FROM natps)
         SELECT ps_partkey, CAST(sum(val) AS DOUBLE) / 100.0 AS value
         FROM natps, tot
         GROUP BY ps_partkey, total, np
         HAVING sum(val) * np > 2 * total"""),
    Query("q_tpch_q2", (s, dir) => {
      // TPC-H Q2 analogue (min-cost supplier): the correlated
      // min(ps_supplycost) subquery decorrelated into a per-part min join —
      // the min frame is keyed by the FILTERED part set so it stays tiny
      // and broadcasts; cost equality is exact integer cents, so the
      // min-match cannot flake cross-engine. Region/size/type filters reach
      // the scans; supplier/nation/region dims broadcast.
      val eligible = partsupp(s, dir)
        .join(t(s, dir, "part")
            .filter(col("p_size") <= 15 && col("p_type") === "PROMO")
            .select("p_partkey"),
          col("ps_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "EUROPE").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("p_partkey"), col("s_acctbal"), col("s_name"),
          col("n_name"), col("ps_cost_cents"))
      val minc = eligible.groupBy(col("p_partkey").as("mp"))
        .agg(min(col("ps_cost_cents")).as("mc"))
      eligible.join(broadcast(minc),
          col("p_partkey") === col("mp") && col("ps_cost_cents") === col("mc"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"),
          (col("ps_cost_cents").cast("double") / lit(100.0)).as("supplycost"))
    }, oracle =
      s"""WITH $partsuppSql,
         eligible AS (
           SELECT p_partkey, s_acctbal, s_name, n_name, ps_cost_cents
           FROM ps JOIN part ON ps_partkey = p_partkey
                   JOIN supplier ON ps_suppkey = s_suppkey
                   JOIN nation ON s_nationkey = n_nationkey
                   JOIN region ON n_regionkey = r_regionkey
           WHERE p_size <= 15 AND p_type = 'PROMO' AND r_name = 'EUROPE'),
         minc AS (SELECT p_partkey, min(ps_cost_cents) AS mc
                  FROM eligible GROUP BY 1)
         SELECT e.s_acctbal, e.s_name, e.n_name, e.p_partkey,
                CAST(e.ps_cost_cents AS DOUBLE) / 100.0 AS supplycost
         FROM eligible e
         JOIN minc m ON e.p_partkey = m.p_partkey AND e.ps_cost_cents = m.mc"""),
    Query("q_tpch_q20", (s, dir) => {
      // TPC-H Q20 analogue (excess-stock suppliers): the nested semi chain —
      // name-filtered parts → their partsupp rows → the correlated
      // half-of-shipped-quantity threshold → DISTINCT suppliers → semi join
      // back into supplier/nation/region. The availqty threshold is the
      // exact rational 2·qty > Σquantity in DECIMAL(18,2); pairs that
      // shipped nothing in the window drop out in the inner join exactly
      // like the classic query's NULL-compare. Fact-side aggregation is
      // map-side partial; all dims broadcast.
      val wparts = t(s, dir, "part")
        .filter(col("p_name").like("%widget%")).select("p_partkey")
      val qty = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
          col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("sq"))
      val cand = partsupp(s, dir)
        .join(broadcast(wparts), col("ps_partkey") === col("p_partkey"))
        .join(qty, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter((col("ps_availqty") * lit(2)).cast(DecimalType(18, 2)) > col("sq"))
        .select("ps_suppkey").distinct()
      t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")
            .filter(col("r_name") === "EUROPE").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .join(cand, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select(col("s_name"), col("s_acctbal"))
    }, oracle =
      s"""WITH $partsuppSql,
         qty AS (SELECT l_partkey, l_suppkey,
                        sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
                 FROM lineitem
                 WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                   AND l_shipdate < TIMESTAMP '1997-01-01'
                 GROUP BY 1, 2),
         cand AS (SELECT DISTINCT ps_suppkey
                  FROM ps JOIN part ON ps_partkey = p_partkey
                          JOIN qty ON ps_partkey = l_partkey
                                  AND ps_suppkey = l_suppkey
                  WHERE p_name LIKE '%widget%'
                    AND CAST(2 * ps_availqty AS DECIMAL(18,2)) > sq)
         SELECT s_name, s_acctbal
         FROM supplier
         JOIN nation ON s_nationkey = n_nationkey
         JOIN cand ON s_suppkey = ps_suppkey
         WHERE n_regionkey IN (SELECT r_regionkey FROM region
                               WHERE r_name = 'EUROPE')"""),
    Query("q_zorder", (s, dir) =>
      // Morton z-values for 2-D data clustering (functions.ZOrder): pure
      // shift/mask Column arithmetic, hash-checked bit-for-bit against the
      // oracle's identical spreading. The LAYOUT payoff — row-group pruning
      // on z-sorted parquet for 2-D box predicates — is proven in ScaleSpec.
      t(s, dir, "part").select(col("p_partkey"),
        graft.functions.ZOrder.zValue(col("p_size"),
          pmod(col("p_partkey"), lit(1024))).as("zval")), oracle = zorderOracleSql),
    Query("q_gapfill", (s, dir) => {
      // time-series gap fill: per-user hourly spine (sequence between the
      // user's first and last active hour) left-joined to actuals, then
      // forward-filled with last(ignoreNulls) — the resample+ffill shape of
      // sensor/metric pipelines. The spine is generated distributed (explode
      // of a per-key sequence), never driver-side; the fill is one window
      // over the spine, partitioned by the series key.
      val hourly = t(s, dir, "events").filter(col("user_id") < 20)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hr"))
        .agg(sum(col("value").cast(DecimalType(18, 2))).cast("double").as("v"))
      val spine = hourly.groupBy("user_id")
        .agg(min("hr").as("mn"), max("hr").as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"),
            expr("INTERVAL 1 HOUR"))).as("hr"))
      val w = Window.partitionBy("user_id").orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(hourly, Seq("user_id", "hr"), "left")
        .withColumn("filled", last("v", ignoreNulls = true).over(w))
    }, oracle =
      """WITH hourly AS (
           SELECT user_id, date_trunc('hour', ts) AS hr,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
           FROM events WHERE user_id < 20 GROUP BY 1, 2),
         spine AS (
           SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
           FROM (SELECT user_id, min(hr) AS mn, max(hr) AS mx
                 FROM hourly GROUP BY 1)),
         j AS (SELECT s.user_id, s.hr, h.v
               FROM spine s LEFT JOIN hourly h USING (user_id, hr))
         SELECT user_id, hr, v,
                last_value(v IGNORE NULLS) OVER (
                  PARTITION BY user_id ORDER BY hr
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
         FROM j"""),
    Query("q_fuzzy_join", (s, dir) => {
      // entity-resolution fuzzy match: DISTINCT canonical names first (the
      // real-world ER shape — distinct values are orders of magnitude
      // smaller than the corpus), then a blocked self-join (last word of
      // the name) with Levenshtein <= 3. Blocking bounds every join bucket
      // to one block's names — never an all-pairs cross join.
      val names = t(s, dir, "part").select("p_name").distinct()
        .withColumn("blk", regexp_extract(col("p_name"), "[a-z]+$", 0))
      names.as("a").join(names.as("b"),
          col("a.blk") === col("b.blk") && col("a.p_name") < col("b.p_name"))
        .select(col("a.p_name").as("name_a"), col("b.p_name").as("name_b"),
          levenshtein(col("a.p_name"), col("b.p_name")).as("lev"))
        .filter(col("lev") <= 3)
    }, oracle =
      """WITH names AS (SELECT DISTINCT p_name,
                               regexp_extract(p_name, '[a-z]+$') AS blk
                        FROM part)
         SELECT a.p_name AS name_a, b.p_name AS name_b,
                CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS lev
         FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= 3"""),
    Query("q_funnel", (s, dir) => {
      // ordered conversion funnel (view -> click -> purchase): each stage is
      // the per-user min event time STRICTLY AFTER the previous stage's —
      // the sequential-pattern shape of product analytics, expressed as a
      // chain of filtered aggregates + broadcastable per-user joins (the
      // per-user frames are |users| rows, tiny next to the event stream).
      val ev = t(s, dir, "events").select("user_id", "ts", "event_type")
      def stage(typ: String, after: Option[DataFrame]): DataFrame = {
        val base = ev.filter(col("event_type") === typ)
        val gated = after match {
          case None => base
          case Some(prev) => base.join(broadcast(prev), "user_id")
            .filter(col("ts") > col("prev_ts")).drop("prev_ts")
        }
        gated.groupBy("user_id").agg(min("ts").as("prev_ts"))
      }
      val s1 = stage("view", None)
      val s2 = stage("click", Some(s1))
      val s3 = stage("purchase", Some(s2))
      def cnt(df: DataFrame, name: String, ord: Int) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(ord).as("stage_n"), lit(name).as("stage"), col("n_users"))
      cnt(s1, "view", 1).union(cnt(s2, "click", 2)).union(cnt(s3, "purchase", 3))
    }, oracle =
      """WITH s1 AS (SELECT user_id, min(ts) AS prev_ts FROM events
                     WHERE event_type = 'view' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS prev_ts
                FROM events e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.ts > s1.prev_ts GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS prev_ts
                FROM events e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.ts > s2.prev_ts GROUP BY 1)
         SELECT 1 AS stage_n, 'view' AS stage, count(*) AS n_users FROM s1
         UNION ALL
         SELECT 2, 'click', count(*) FROM s2
         UNION ALL
         SELECT 3, 'purchase', count(*) FROM s3"""),
    Query("q_rfm", (s, dir) => {
      // RFM customer segmentation: recency/frequency/monetary quintiles
      // (ntile with the custkey tie-break → deterministic buckets, the
      // q_ntile contract), segment = concatenated scores. Like q_ntile,
      // the global ntile sort is the oracle-exact formulation that
      // approx-quantile cut points approximate at 100 TB; the per-customer
      // aggregation below it is the usual map-side-combined groupBy.
      val base = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_order"),
          count(lit(1)).as("freq"),
          dsum(col("o_totalprice")).as("monetary"))
      def score(c: Column): Column =
        ntile(5).over(Window.orderBy(c, col("o_custkey")))
      base
        .withColumn("r_score", score(col("last_order"))) // newer = higher
        .withColumn("f_score", score(col("freq")))
        .withColumn("m_score", score(col("monetary")))
        .select(col("o_custkey"), col("freq"), col("monetary"),
          col("r_score"), col("f_score"), col("m_score"),
          concat(col("r_score"), col("f_score"), col("m_score")).as("segment"))
    }, oracle =
      """WITH base AS (
           SELECT o_custkey, max(o_orderdate) AS last_order,
                  count(*) AS freq,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
           FROM orders GROUP BY 1),
         s AS (SELECT o_custkey, freq, monetary,
                      CAST(ntile(5) OVER (ORDER BY last_order, o_custkey) AS INTEGER) AS r_score,
                      CAST(ntile(5) OVER (ORDER BY freq, o_custkey) AS INTEGER) AS f_score,
                      CAST(ntile(5) OVER (ORDER BY monetary, o_custkey) AS INTEGER) AS m_score
               FROM base)
         SELECT o_custkey, freq, monetary, r_score, f_score, m_score,
                CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
                  || CAST(m_score AS VARCHAR) AS segment
         FROM s"""),
    Query("q_basket", (s, dir) => {
      // market-basket association (pairwise rules): for part pairs
      // co-occurring in >= 3 orders, support/confidence/lift from exact
      // counts — lift = n_ab·n_orders / (n_a·n_b), each metric ONE IEEE
      // division of exact integers (products stay far under 2^53). Top-20
      // by lift with the (part_a, part_b) tie-break. Scale shape: the
      // per-order pair join is bounded by order width (never corpus²),
      // item counts are broadcastable, the 1-row total crossJoins in.
      val pp = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val nOrders = pp.select(countDistinct(col("ok")).as("n_orders"))
      val items = pp.groupBy(col("pk")).agg(count(lit(1)).as("n_item"))
      val pairs = pp.as("a").join(pp.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .groupBy(col("a.pk").as("part_a"), col("b.pk").as("part_b"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 3)
      pairs
        .join(items.select(col("pk").as("part_a"), col("n_item").as("n_a")), "part_a")
        .join(items.select(col("pk").as("part_b"), col("n_item").as("n_b")), "part_b")
        .crossJoin(broadcast(nOrders))
        .withColumn("lift_raw",
          (col("n_ab") * col("n_orders")).cast("double")
            / (col("n_a") * col("n_b")).cast("double"))
        .orderBy(col("lift_raw").desc, col("part_a").asc, col("part_b").asc)
        .limit(20)
        .select(col("part_a"), col("part_b"), col("n_ab"),
          round(col("n_ab").cast("double") / col("n_orders"), 6).as("support"),
          round(col("n_ab").cast("double") / col("n_a"), 6).as("confidence"),
          round(col("lift_raw"), 6).as("lift"))
    }, oracle =
      """WITH pp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         tot AS (SELECT count(DISTINCT ok) AS n_orders FROM pp),
         items AS (SELECT pk, count(*) AS n_item FROM pp GROUP BY 1),
         pairs AS (SELECT a.pk AS part_a, b.pk AS part_b, count(*) AS n_ab
                   FROM pp a JOIN pp b ON a.ok = b.ok AND a.pk < b.pk
                   GROUP BY 1, 2 HAVING count(*) >= 3),
         sc AS (SELECT part_a, part_b, n_ab,
                       CAST(n_ab * t.n_orders AS DOUBLE)
                         / CAST(ia.n_item * ib.n_item AS DOUBLE) AS lift_raw,
                       ia.n_item AS n_a, t.n_orders AS n_orders
                FROM pairs
                JOIN items ia ON pairs.part_a = ia.pk
                JOIN items ib ON pairs.part_b = ib.pk
                CROSS JOIN tot t)
         SELECT part_a, part_b, n_ab,
                round(CAST(n_ab AS DOUBLE) / n_orders, 6) AS support,
                round(CAST(n_ab AS DOUBLE) / n_a, 6) AS confidence,
                round(lift_raw, 6) AS lift
         FROM sc
         ORDER BY lift_raw DESC, part_a ASC, part_b ASC
         LIMIT 20"""),
    Query("q_islands", (s, dir) => {
      // gaps-and-islands: maximal runs of consecutive same-type events per
      // user (the classic rn-difference trick: rank in the user's full
      // sequence minus rank in the user's per-type sequence is constant
      // exactly within a run). Timestamps are exported as unix micros —
      // the engines share the µs truncation, never the raw ns render.
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val byUserType = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .filter(col("event_type").isNotNull)
        .withColumn("grp",
          row_number().over(byUser) - row_number().over(byUserType))
        .groupBy("user_id", "event_type", "grp")
        .agg(count(lit(1)).as("run_len"),
          min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"))
        .drop("grp")
        .filter(col("run_len") >= 3) // report only nontrivial runs
    }, oracle =
      """WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us
                    FROM events WHERE event_type IS NOT NULL),
         r AS (SELECT user_id, event_type, us,
                      row_number() OVER (PARTITION BY user_id
                        ORDER BY us, event_id)
                    - row_number() OVER (PARTITION BY user_id, event_type
                        ORDER BY us, event_id) AS grp
               FROM e)
         SELECT user_id, event_type,
                count(*) AS run_len,
                min(us) AS start_us, max(us) AS end_us
         FROM r GROUP BY user_id, event_type, grp
         HAVING count(*) >= 3"""),
    Query("q_boxplot", (s, dir) => {
      // per-group boxplot stats with RANK-MIDPOINT quartiles: quantile p =
      // midpoint of the two order statistics bracketing h = (n-1)·p + 1 —
      // a deterministic, interpolation-free convention both engines spell
      // identically (same family as q_mad's exact-rank median; h's floor/
      // ceil are all-integer). IQR, whiskers, and the outlier count are
      // single IEEE ops on identical operands.
      val ev = t(s, dir, "events")
        .filter(col("event_type").isNotNull && col("value").isNotNull)
        .select("event_type", "value")
      val wOrd = Window.partitionBy("event_type").orderBy("value")
      val wAll = Window.partitionBy("event_type")
      val ranked = ev
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("n", count(lit(1)).over(wAll))
      def q(pNum: Int, pDen: Int): Column = {
        // h = (n-1)*p + 1; lo = floor(h), hi = ceil(h), all-integer:
        // lo = ((n-1)*num) DIV den + 1 ; hi = lo + (1 if den∤(n-1)*num)
        val lo = expr(s"((n - 1) * $pNum) DIV $pDen + 1")
        val hi = expr(s"((n - 1) * $pNum) DIV $pDen + 1" +
          s" + (CASE WHEN ((n - 1) * $pNum) % $pDen = 0 THEN 0 ELSE 1 END)")
        (min(when(col("rn") === lo, col("value"))) +
          min(when(col("rn") === hi, col("value")))) / 2.0
      }
      val stats = ranked.groupBy("event_type")
        .agg(first(col("n")).as("n"), q(1, 4).as("q1"), q(1, 2).as("med"),
          q(3, 4).as("q3"))
        .withColumn("iqr", col("q3") - col("q1"))
        .withColumn("lo_fence", col("q1") - lit(1.5) * col("iqr"))
        .withColumn("hi_fence", col("q3") + lit(1.5) * col("iqr"))
      ev.join(stats, "event_type")
        .groupBy("event_type")
        .agg(first(col("n")).as("n"),
          round(first(col("q1")), 4).as("q1"),
          round(first(col("med")), 4).as("med"),
          round(first(col("q3")), 4).as("q3"),
          sum(when(col("value") < col("lo_fence")
            || col("value") > col("hi_fence"), 1L).otherwise(0L))
            .as("n_outliers"))
    }, oracle =
      """WITH ev AS (SELECT event_type, value FROM events
                     WHERE event_type IS NOT NULL AND value IS NOT NULL),
         r AS (SELECT event_type, value,
                      row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM ev),
         s AS (SELECT event_type, max(n) AS n,
                 (min(CASE WHEN rn = ((n - 1) * 1) // 4 + 1 THEN value END) +
                  min(CASE WHEN rn = ((n - 1) * 1) // 4 + 1
                        + (CASE WHEN ((n - 1) * 1) % 4 = 0 THEN 0 ELSE 1 END)
                      THEN value END)) / 2.0 AS q1,
                 (min(CASE WHEN rn = ((n - 1) * 1) // 2 + 1 THEN value END) +
                  min(CASE WHEN rn = ((n - 1) * 1) // 2 + 1
                        + (CASE WHEN ((n - 1) * 1) % 2 = 0 THEN 0 ELSE 1 END)
                      THEN value END)) / 2.0 AS med,
                 (min(CASE WHEN rn = ((n - 1) * 3) // 4 + 1 THEN value END) +
                  min(CASE WHEN rn = ((n - 1) * 3) // 4 + 1
                        + (CASE WHEN ((n - 1) * 3) % 4 = 0 THEN 0 ELSE 1 END)
                      THEN value END)) / 2.0 AS q3
               FROM r GROUP BY event_type),
         f AS (SELECT event_type, n, q1, med, q3,
                      q1 - 1.5 * (q3 - q1) AS lo_fence,
                      q3 + 1.5 * (q3 - q1) AS hi_fence
               FROM s)
         SELECT ev.event_type, max(f.n) AS n,
                round(max(f.q1), 4) AS q1, round(max(f.med), 4) AS med,
                round(max(f.q3), 4) AS q3,
                CAST(sum(CASE WHEN ev.value < f.lo_fence
                           OR ev.value > f.hi_fence THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_outliers
         FROM ev JOIN f USING (event_type)
         GROUP BY ev.event_type"""),
    Query("q_attribution", (s, dir) => {
      // marketing attribution: each purchase credited to the user's FIRST
      // and LAST click strictly before it (first-touch / last-touch — the
      // two standard models, one window pass). The frame ends at -1 row so
      // the purchase row itself (or a same-µs sibling) can't self-attribute;
      // ordering is (µs timestamp, event_id) — a total order both engines
      // share (events.ts is ns in parquet; both sides order on the µs
      // truncation, see Tables.load / epoch_us in the oracle).
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val clickId = when(col("event_type") === "click", col("event_id"))
      t(s, dir, "events")
        .withColumn("first_click", first(clickId, ignoreNulls = true).over(w))
        .withColumn("last_click", last(clickId, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("first_click"), col("last_click"), col("value").as("amount"))
    }, oracle =
      // ordering on epoch_us(ts) = the engine's µs truncation of the ns
      // source column (same convention as q_sessionize's oracle)
      """WITH w AS (
           SELECT event_id, user_id, event_type, value,
                  first_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_click,
                  last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
           FROM events)
         SELECT event_id AS purchase_id, user_id, first_click, last_click,
                value AS amount
         FROM w WHERE event_type = 'purchase'"""),
    Query("q_dq_report", (s, dir) => {
      // data-quality gate report: declarative constraints evaluated in ONE
      // aggregation pass per table (stack-unpivoted to rows) plus anti-join
      // referential checks — the validation artifact a pipeline emits
      // before promoting a batch. Zero-violation rows are part of the
      // contract (they prove the check RAN); violation_rate is one IEEE
      // division of exact counts.
      def tableChecks(df: org.apache.spark.sql.DataFrame,
                      checks: Seq[(String, Column)]): org.apache.spark.sql.DataFrame = {
        val agg = df.agg(count(lit(1)).as("n"),
          checks.map { case (nm, viol) =>
            sum(when(viol, 1L).otherwise(0L)).as(s"v_$nm") }: _*)
        val stacked = checks.map { case (nm, _) =>
          s"'$nm', v_$nm" }.mkString(", ")
        agg.selectExpr("n",
          s"stack(${checks.size}, $stacked) AS (constraint_name, n_violations)")
          .select(col("constraint_name"), col("n").as("n_checked"),
            col("n_violations"))
      }
      val li = tableChecks(t(s, dir, "lineitem"), Seq(
        "lineitem_quantity_in_1_50" -> !col("l_quantity").between(1, 50),
        "lineitem_price_positive" -> (col("l_extendedprice") <= 0),
        "lineitem_discount_in_0_1" -> !col("l_discount").between(0, 1)))
      val ev = tableChecks(t(s, dir, "events"), Seq(
        "events_type_not_null" -> col("event_type").isNull,
        "events_value_not_null" -> col("value").isNull))
      val orphans = t(s, dir, "lineitem").select(col("l_orderkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
      val ri = t(s, dir, "lineitem").agg(count(lit(1)).as("n_checked"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_violations")))
        .select(lit("lineitem_orderkey_in_orders").as("constraint_name"),
          col("n_checked"), col("n_violations"))
      li.unionByName(ev).unionByName(ri)
        .withColumn("violation_rate",
          round(col("n_violations").cast("double") / col("n_checked"), 6))
    }, oracle =
      """SELECT 'lineitem_quantity_in_1_50' AS constraint_name,
                count(*) AS n_checked,
                CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                round(CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS violation_rate
         FROM lineitem
         UNION ALL
         SELECT 'lineitem_price_positive', count(*),
                CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
                round(CAST(sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         FROM lineitem
         UNION ALL
         SELECT 'lineitem_discount_in_0_1', count(*),
                CAST(sum(CASE WHEN l_discount NOT BETWEEN 0 AND 1 THEN 1 ELSE 0 END) AS BIGINT),
                round(CAST(sum(CASE WHEN l_discount NOT BETWEEN 0 AND 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         FROM lineitem
         UNION ALL
         SELECT 'events_type_not_null', count(*),
                CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                round(CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         FROM events
         UNION ALL
         SELECT 'events_value_not_null', count(*),
                CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
                round(CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         FROM events
         UNION ALL
         SELECT 'lineitem_orderkey_in_orders',
                (SELECT count(*) FROM lineitem),
                CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
                round(CAST((SELECT count(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS DOUBLE)
                  / (SELECT count(*) FROM lineitem), 6)"""),
    Query("q_cohort", (s, dir) => {
      // weekly cohort retention: users grouped by first-seen week, counted
      // distinct in each subsequent activity week. Both frames aggregate the
      // event stream down to |users|-scale before the join — at 100 TB the
      // join inputs are user-cardinality, never event-cardinality.
      val ev = t(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("wk"))
      val cohort = ev.groupBy("user_id").agg(min("wk").as("cohort_week"))
      val active = ev.distinct()
      active.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (datediff(col("wk"), col("cohort_week")) / 7).cast(IntegerType).as("week_n"))
        .agg(countDistinct(col("user_id")).as("n_active"))
    }, oracle =
      """WITH ev AS (SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
                     FROM events),
         cohort AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1),
         active AS (SELECT DISTINCT user_id, wk FROM ev)
         SELECT c.cohort_week,
                CAST(date_diff('day', c.cohort_week, a.wk) // 7 AS INTEGER) AS week_n,
                count(DISTINCT a.user_id) AS n_active
         FROM active a JOIN cohort c ON a.user_id = c.user_id
         GROUP BY 1, 2"""),
    Query("q_profile", (s, dir) => {
      // one-pass data profiling (null fraction / distinct / min / max per
      // column) — the schema-drift sentry a reporting pipeline runs before
      // every load. ONE scan computes all per-column aggregates; the wide
      // 1-row result is then unpivoted driver-free via explode.
      val cols = Seq("o_orderstatus", "o_custkey", "o_orderdate")
      def stats(c: String) = Seq(
        count(col(c)).as(s"${c}_nn"),
        countDistinct(col(c)).as(s"${c}_nd"),
        min(col(c)).cast("string").as(s"${c}_min"),
        max(col(c)).cast("string").as(s"${c}_max"))
      val exprs = count(lit(1)).as("n_rows") +: cols.flatMap(stats)
      t(s, dir, "orders").agg(exprs.head, exprs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"), col("n_rows"),
          (col("n_rows") - col(s"${c}_nn")).as("n_null"),
          col(s"${c}_nd").as("n_distinct"),
          col(s"${c}_min").as("min_s"), col(s"${c}_max").as("max_s"))): _*))
          .as("p"))
        .select("p.*")
    }, oracle =
      """SELECT 'o_orderstatus' AS col_name, count(*) AS n_rows,
                count(*) - count(o_orderstatus) AS n_null,
                count(DISTINCT o_orderstatus) AS n_distinct,
                CAST(min(o_orderstatus) AS VARCHAR) AS min_s,
                CAST(max(o_orderstatus) AS VARCHAR) AS max_s
         FROM orders
         UNION ALL
         SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
                count(DISTINCT o_custkey),
                CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
         FROM orders
         UNION ALL
         SELECT 'o_orderdate', count(*), count(*) - count(o_orderdate),
                count(DISTINCT o_orderdate),
                CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR)
         FROM orders"""),
    Query("q_bucketed_join", (s, dir) => {
      // co-located join: both sides written bucketed on the join key, so the
      // sort-merge join reads matching buckets with NO shuffle exchange —
      // the 100 TB fact-dim co-location strategy (plan proven shuffle-free
      // in ScaleSpec; here the result is hash-checked against a plain join).
      // drop catalog entry AND any orphaned warehouse dir (cross-JVM
      // leftover) — see Catalog.dropManaged
      Seq("graft_bucket_orders", "graft_bucket_customer")
        .foreach(graft.pipeline.Catalog.dropManaged(s, _))
      t(s, dir, "orders").write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .format("parquet").saveAsTable("graft_bucket_orders")
      t(s, dir, "customer").write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .format("parquet").saveAsTable("graft_bucket_customer")
      val bo = s.table("graft_bucket_orders")
      val bc = s.table("graft_bucket_customer")
      bo.hint("merge").join(bc, bo("o_custkey") === bc("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
    }, oracle =
      """SELECT c_mktsegment, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment"""),
    Query("q_heavy_hitters", (s, dir) => {
      // Space-Saving frequent-items sketch (custom mergeable UDAF): bounded
      // state regardless of key cardinality — the groupless-scan shape of
      // heavy-hitter detection at 100 TB. k=64 >> |event_type|, so no
      // eviction occurs and every (est, err=0) is exact; a plain GROUP BY
      // oracle hash-checks the sketch output (the eviction regime's
      // guarantees are property-tested in SpaceSavingSpec).
      val ss = graft.functions.SpaceSaving.topK(64)
      t(s, dir, "events").agg(ss(col("event_type")).as("hh"))
        .select(explode(col("hh")).as("h"))
        .select(col("h._1").as("item"), col("h._2").as("est"),
          col("h._3").as("err"))
    }, oracle =
      // k=64 exceeds the event_type cardinality, so the Space-Saving sketch
      // is in its exact regime: output == plain GROUP BY, all errors 0
      """SELECT event_type AS item, count(*) AS est, CAST(0 AS BIGINT) AS err
         FROM events WHERE event_type IS NOT NULL GROUP BY 1"""),
    Query("q_cube", (s, dir) => {
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
    }, oracle =
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)"""),
    Query("q_rollup", (s, dir) => {
      // Seq-key joins: no dataset-qualified column refs, so the later rollup
      // resolution can't trip Spark's ambiguous-self-join detector.
      val c = t(s, dir, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      c.join(broadcast(n), Seq("n_nationkey"))
        .join(broadcast(r), Seq("n_regionkey"))
        // col(...)-based rollup: the String* overload resolves via Dataset.col,
        // which trips Spark's ambiguous-self-join detector after multi-joins.
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
    }, oracle =
      """SELECT r_name, n_name, count(*) AS n_cust,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)"""),
    Query("q_argmax", (s, dir) => {
      // deterministic arg-max: max over (value, tiebreak) struct — the
      // engine-portable form of max_by/arg_max, whose tie behavior is
      // undefined in both engines
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(col("o_orderpriority"),
          col("m.o_totalprice").as("top_price"),
          col("m.o_orderkey").as("top_orderkey"))
    }, oracle =
      """SELECT o_orderpriority,
                (max(struct_pack(p := o_totalprice, k := o_orderkey))).p AS top_price,
                (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS top_orderkey
         FROM orders GROUP BY o_orderpriority"""),
    Query("q_percentile", (s, dir) => {
      t(s, dir, "orders").groupBy("o_orderpriority").agg(
        round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n_orders"))
    }, oracle =
      """SELECT o_orderpriority,
                round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
                round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
                count(*) AS n_orders
         FROM orders GROUP BY o_orderpriority"""),
    Query("q_approx_percentile", (s, dir) => {
      // approx_percentile's t-digest-style value is engine-specific, so —
      // like q_approx_distinct — the declared contract is the error bound:
      // the sketch's p50 must land within ±5% of the exact continuous
      // median, hash-checked per run (the oracle demands TRUE).
      t(s, dir, "orders").groupBy("o_orderpriority").agg(
          expr("approx_percentile(o_totalprice, 0.5, 10000)").as("ap50"),
          expr("percentile(o_totalprice, 0.5)").as("p50"),
          count(lit(1)).as("n_orders"))
        .select(col("o_orderpriority"), round(col("p50"), 4).as("p50"),
          col("n_orders"),
          (abs(col("ap50") - col("p50")) <= col("p50") * 0.05)
            .as("approx_within_5pct"))
    }, oracle =
      """SELECT o_orderpriority, round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                count(*) AS n_orders, TRUE AS approx_within_5pct
         FROM orders GROUP BY o_orderpriority"""),
    Query("q_reagg", (s, dir) => {
      // partial-aggregate reuse: the daily rollup is computed FROM the
      // hourly pre-aggregate, never rescanning raw events — the
      // materialized-rollup maintenance pattern (at 100 TB the hourly table
      // is orders of magnitude smaller than the event stream). Decimal
      // partials are exact and associative, so reaggregation is lossless:
      // the oracle computes the daily answer directly from raw events and
      // the hashes must match.
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 2))).as("sum_dec"))
      hourly
        .groupBy(date_trunc("day", col("hour_ts")).as("day_ts"), col("event_type"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("sum_dec")).cast("double").as("sum_value"))
    }, oracle =
      """SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_ts, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2"""),

    // --- joins -------------------------------------------------------------
    Query("q_bloom_prune", (s, dir) => {
      // runtime-filter join (operators.BloomPrune): a bloom sketch of the
      // high-value order keys prunes the lineitem side BEFORE its shuffle;
      // the exact semi join afterwards clears false positives, so the
      // result — and hash — equals the naive semi join the oracle runs.
      val hi = t(s, dir, "orders").filter(col("o_totalprice") > 150000.0)
        .select("o_orderkey")
      graft.operators.BloomPrune.prunedSemiJoin(
          t(s, dir, "lineitem"), hi, "l_orderkey", "o_orderkey",
          expectedItems = 100000L, numBits = 1L << 20)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"), dsum(col("l_quantity")).as("sum_qty"))
    }, oracle =
      """SELECT l_returnflag, count(*) AS n_rows,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem
         WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                              WHERE o_totalprice > 150000.0)
         GROUP BY l_returnflag"""),
    Query("q_join_inner", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
    }, oracle =
      """SELECT c_mktsegment, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment"""),
    Query("q_join_left", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey", "c_name")
        .agg(count(col("o_orderkey")).as("n_orders"), dsum(col("o_totalprice")).as("spent"))
    }, oracle =
      """SELECT c_custkey, c_name, count(o_orderkey) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spent
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey, c_name"""),
    Query("q_join_full", (s, dir) => {
      val cn = t(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_cust"))
      val sn = t(s, dir, "supplier").groupBy(col("s_nationkey").as("nk"))
        .agg(count(lit(1)).as("n_supp"))
      cn.join(sn, Seq("nk"), "full")
        .select(col("nk").as("nationkey"), col("n_cust"), col("n_supp"))
    }, oracle =
      """SELECT coalesce(c.nk, s.nk) AS nationkey, c.n_cust, s.n_supp
         FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1) c
         FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) s
           ON c.nk = s.nk"""),
    Query("q_join_right", (s, dir) => {
      // right outer: every customer survives, order-less ones with zero
      // counts (count(col) skips nulls, count(*) doesn't)
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy("c_mktsegment")
        .agg(count(col("o_orderkey")).as("n_orders"), count(lit(1)).as("n_rows"),
          dsum(col("o_totalprice")).as("revenue"))
    }, oracle =
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders, count(*) AS n_rows,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment"""),
    Query("q_cross", (s, dir) => {
      // deliberate cartesian of two tiny dims (5 x 25) — the one join shape
      // where crossJoin is legitimate; both sides broadcast-sized
      t(s, dir, "region").select("r_name")
        .crossJoin(t(s, dir, "nation").select("n_name"))
    }, oracle =
      """SELECT r_name, n_name FROM region CROSS JOIN nation"""),
    Query("q_not_in", (s, dir) => {
      // NOT IN subquery → Spark's null-aware anti join (the classic
      // three-valued-logic trap; key columns here are non-null so both
      // engines agree row-for-row)
      t(s, dir, "orders").createOrReplaceTempView("q_not_in_orders")
      t(s, dir, "customer").createOrReplaceTempView("q_not_in_customer")
      s.sql(
        """SELECT o_orderstatus, count(*) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
           FROM q_not_in_orders
           WHERE o_custkey NOT IN (SELECT c_custkey FROM q_not_in_customer
                                   WHERE c_mktsegment = 'BUILDING')
           GROUP BY o_orderstatus""")
    }, oracle =
      """SELECT o_orderstatus, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders
         WHERE o_custkey NOT IN (SELECT c_custkey FROM customer
                                 WHERE c_mktsegment = 'BUILDING')
         GROUP BY o_orderstatus"""),
    Query("q_params", (s, dir) => {
      // parameterized SQL (spark.sql(text, args)): named :markers bound
      // as LITERALS by the parser — like IDENTIFIER() for names, this is
      // the injection-safe path for values, and the bound literal
      // constant-folds/pushes down like any other
      t(s, dir, "orders").createOrReplaceTempView("param_orders")
      s.sql(
        """SELECT o_orderpriority AS prio, count(*) AS n_orders
           FROM param_orders
           WHERE o_totalprice > :minPrice AND o_orderstatus = :status
           GROUP BY o_orderpriority""",
        Map("minPrice" -> 150000, "status" -> "F"))
    }, oracle =
      """SELECT o_orderpriority AS prio, count(*) AS n_orders
         FROM orders
         WHERE o_totalprice > 150000 AND o_orderstatus = 'F'
         GROUP BY 1"""),
    Query("q_lateral_alias", (s, dir) => {
      // lateral column alias: later SELECT items reference earlier
      // aliases in the same list — no subquery nesting, evaluated once
      t(s, dir, "lineitem").createOrReplaceTempView("lca_lineitem")
      s.sql(
        """SELECT l_returnflag,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS gross,
                  gross * 0.9 AS net,
                  net - gross AS delta
           FROM lca_lineitem
           GROUP BY l_returnflag""")
    }, oracle =
      // double × 0.9 is IEEE-identical in both engines; delta = -0.1×gross
      // through the same lateral chain
      """SELECT l_returnflag,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS gross,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  * 0.9 AS net,
                CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  * 0.9
                - CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS delta
         FROM lineitem GROUP BY l_returnflag"""),
    Query("q_collation", (s, dir) => {
      // Spark 4 collations: mixed-case labels compared/grouped under
      // UTF8_LCASE — the engine merges case variants at the COMPARISON
      // level (hash/sort keys are collation keys), no data normalization
      // pass. Output projects lower(seg) because a collated GROUP BY
      // returns an arbitrary case representative; CAST back to plain
      // STRING strips the collation from the output schema.
      t(s, dir, "customer").createOrReplaceTempView("coll_customer")
      s.sql(
        """WITH c AS (
             SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                         ELSE lower(c_mktsegment)
                    END COLLATE UTF8_LCASE AS seg,
                    c_acctbal
             FROM coll_customer)
           SELECT CAST(lower(seg) AS STRING) AS seg,
                  count(*) AS n_customers,
                  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                    AS total_bal
           FROM c GROUP BY seg""")
    }, oracle =
      // the oracle normalizes with lower() — equality proves the collated
      // GROUP BY merged the case variants exactly as normalization would
      """SELECT lower(c_mktsegment) AS seg, count(*) AS n_customers,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  AS total_bal
         FROM customer GROUP BY 1"""),
    Query("q_identifier", (s, dir) => {
      // IDENTIFIER() clause: dynamic table/column names resolved as
      // identifiers, not spliced strings — the SQL-injection-safe form of
      // parameterized DDL/DML tooling
      t(s, dir, "orders").createOrReplaceTempView("ident_orders")
      s.sql(
        """SELECT IDENTIFIER('o_orderstatus') AS status,
                  count(*) AS n_orders
           FROM IDENTIFIER('ident_orders')
           GROUP BY IDENTIFIER('o_orderstatus')""")
    }, oracle =
      """SELECT o_orderstatus AS status, count(*) AS n_orders
         FROM orders GROUP BY 1"""),
    Query("q_xml", (s, dir) => {
      // XML ingestion (from_xml landed in Spark 4 core): construct an XML
      // document per order, parse with an explicit schema, extract typed
      // fields — plus an xpath_long extraction over the same document,
      // cross-checked against the schema'd parse inside the query
      // (n_mismatch must be 0). Integer cents as always; the oracle
      // replays the construction from base columns (codec philosophy —
      // DuckDB has no XML functions, and does not need any: the gate is
      // that parse∘construct is the identity).
      t(s, dir, "orders").createOrReplaceTempView("xml_orders")
      s.sql(
        """WITH x AS (
             SELECT concat('<o><id>', o_orderkey, '</id><cust>', o_custkey,
                           '</cust><cents>',
                           CAST(round(o_totalprice * 100) AS BIGINT),
                           '</cents><prio>', o_orderpriority,
                           '</prio></o>') AS doc
             FROM xml_orders),
           p AS (
             SELECT from_xml(doc,
                      'id BIGINT, cust BIGINT, cents BIGINT, prio STRING') AS r,
                    xpath_long(doc, '/o/cust') AS xp_cust
             FROM x)
           SELECT r.prio AS prio,
                  count(*) AS n_orders,
                  CAST(sum(CAST(r.cents AS DECIMAL(18,0))) AS BIGINT)
                    AS sum_cents,
                  CAST(sum(CASE WHEN xp_cust = r.cust THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_mismatch
           FROM p GROUP BY r.prio""")
    }, oracle =
      // construction replay from base columns: equality proves Spark's
      // XML parse (schema'd from_xml AND the xpath extraction, which the
      // query cross-checks into n_mismatch) is the identity on the
      // constructed documents
      """SELECT o_orderpriority AS prio,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents,
                CAST(0 AS BIGINT) AS n_mismatch
         FROM orders GROUP BY 1"""),
    Query("q_try_funcs", (s, dir) => {
      // error-safe evaluation (the ANSI-mode companion family): dirty
      // strings → try_cast, data-dependent zero divisors → try_divide,
      // out-of-bounds array access → try_element_at; NULL instead of a
      // failed job, with the failure COUNTS surfaced — the data-quality
      // triage shape (quarantine-and-count, never crash the batch).
      t(s, dir, "orders").createOrReplaceTempView("tryf_orders")
      s.sql(
        """SELECT count(*) AS n,
                  count(try_cast(CASE WHEN o_orderkey % 7 = 0 THEN 'N/A'
                                      ELSE CAST(o_orderkey AS STRING) END
                                 AS BIGINT)) AS n_cast_ok,
                  CAST(sum(CASE WHEN try_divide(100.0, o_orderkey % 5) IS NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
                  max(try_cast(CASE WHEN o_orderkey % 7 = 0 THEN 'N/A'
                                    ELSE CAST(o_orderkey AS STRING) END
                               AS BIGINT)) AS max_cast,
                  count(try_element_at(array(o_orderstatus),
                                       CAST(o_orderkey % 3 AS INT) + 1))
                    AS n_elem_ok
           FROM tryf_orders""")
    }, oracle =
      // each try_* replayed as the success-condition CASE
      """SELECT count(*) AS n,
                count(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                           ELSE o_orderkey END) AS n_cast_ok,
                CAST(sum(CASE WHEN o_orderkey % 5 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_div_null,
                CAST(max(CASE WHEN o_orderkey % 7 = 0 THEN NULL
                              ELSE o_orderkey END) AS BIGINT) AS max_cast,
                count(CASE WHEN o_orderkey % 3 = 0 THEN o_orderstatus END)
                  AS n_elem_ok
         FROM orders"""),
    Query("q_sql_udf", (s, dir) => {
      // Spark 4 SQL-defined function (CREATE FUNCTION ... RETURN expr):
      // unlike a Scala/Python UDF, the analyzer INLINES the body into the
      // plan, so it stays inside whole-stage codegen and predicate
      // pushdown — the UDF mechanism with zero of the UDF cost (the plan
      // shows the CASE expression, no black-box call). Banding uses pure
      // comparisons on the 2-decimal price, so both engines agree exactly.
      t(s, dir, "orders").createOrReplaceTempView("sqludf_orders")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_price_band(p DOUBLE)
               RETURNS STRING
               RETURN CASE WHEN p < 50000 THEN 'low'
                           WHEN p < 150000 THEN 'mid'
                           ELSE 'high' END""")
      s.sql(
        """SELECT graft_price_band(o_totalprice) AS band,
                  count(*) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS revenue
           FROM sqludf_orders
           GROUP BY graft_price_band(o_totalprice)""")
    }, oracle =
      // the UDF body inlined by hand — which is exactly what Spark's
      // analyzer does with it too
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                     WHEN o_totalprice < 150000 THEN 'mid'
                     ELSE 'high' END AS band,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM orders
         GROUP BY 1"""),
    Query("q_variant", (s, dir) => {
      // Spark 4 VARIANT (open semi-structured type): build a nested JSON
      // document per order (integer cents — embedding doubles in JSON
      // text would be a formatting trap), parse_json → VARIANT, extract
      // typed fields by path (nested object, array index, missing key),
      // aggregate. The codec-query philosophy applied to semi-structured
      // data: construct → encode(JSON) → VARIANT decode → extract, with
      // the oracle replaying the construction arithmetic from the base
      // columns — the hash gates the whole parse/shred/extract round
      // trip. At scale VARIANT's binary encoding shreds once at the scan
      // instead of re-parsing JSON text per extraction.
      t(s, dir, "orders")
        .withColumn("doc", expr(
          """parse_json(concat('{"id":', o_orderkey,
             ',"cust":{"key":', o_custkey,
             '},"price_cents":', CAST(round(o_totalprice * 100) AS BIGINT),
             ',"tags":["', o_orderpriority, '","', o_orderstatus, '"]}'))"""))
        .select(
          expr("variant_get(doc, '$.tags[0]', 'string')").as("prio"),
          expr("variant_get(doc, '$.cust.key', 'bigint')").as("cust_key"),
          expr("variant_get(doc, '$.price_cents', 'bigint')").as("cents"),
          // a missing path must be NULL, not an error (try semantics)
          expr("try_variant_get(doc, '$.discount', 'double')").as("missing"))
        .groupBy("prio")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("sum_cents"),
          max(col("cust_key")).as("max_cust"),
          count(col("missing")).as("n_missing"))
    }, oracle =
      // replays the construction from base columns (no JSON at all):
      // equality proves Spark's JSON→VARIANT→typed-path extraction is the
      // identity on the constructed document; n_missing counts non-null
      // extractions of an absent path, which must be 0
      """SELECT o_orderpriority AS prio,
                count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents,
                CAST(max(o_custkey) AS BIGINT) AS max_cust,
                CAST(0 AS BIGINT) AS n_missing
         FROM orders GROUP BY o_orderpriority"""),
    Query("q_recursive_cte", (s, dir) => {
      // RECURSIVE CTE (Spark 4's WITH RECURSIVE): ancestor-chain walk over
      // the implicit binary tree on supplier keys (parent(k) = k DIV 2) —
      // a data-DEPENDENT recursion depth (~log2 of the key space, so it
      // deepens with scale factor), joined back to the table and
      // aggregated per leaf. Each recursion step is one self-join over the
      // frontier — frontier size never exceeds the supplier count and
      // depth is logarithmic, so the iterative plan scales; DuckDB runs
      // the identical recursion (`//` for DIV), making the whole
      // recursive evaluation hash-gated.
      t(s, dir, "supplier").createOrReplaceTempView("rcte_supplier")
      s.sql(
        """WITH RECURSIVE anc AS (
             SELECT s_suppkey AS leaf, s_suppkey AS node, 0 AS depth
             FROM rcte_supplier
             UNION ALL
             SELECT leaf, node DIV 2 AS node, depth + 1 AS depth
             FROM anc WHERE node > 1
           )
           SELECT anc.leaf AS s_suppkey,
                  CAST(max(anc.depth) AS INT) AS depth,
                  CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                    AS chain_acctbal
           FROM anc JOIN rcte_supplier s ON anc.node = s.s_suppkey
           GROUP BY anc.leaf""")
    }, oracle =
      // the IDENTICAL recursion in DuckDB's WITH RECURSIVE (`//` = DIV):
      // both engines iterate the same frontier to the same depth, so the
      // hash gates the whole recursive evaluation, not just the final agg
      """WITH RECURSIVE anc AS (
           SELECT s_suppkey AS leaf, s_suppkey AS node, 0 AS depth
           FROM supplier
           UNION ALL
           SELECT leaf, node // 2, depth + 1 FROM anc WHERE node > 1
         )
         SELECT anc.leaf AS s_suppkey,
                CAST(max(anc.depth) AS INTEGER) AS depth,
                CAST(sum(CAST(s.s_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                  AS chain_acctbal
         FROM anc JOIN supplier s ON anc.node = s.s_suppkey
         GROUP BY anc.leaf"""),
    Query("q_group_by_all", (s, dir) => {
      // GROUP BY ALL (Spark 4 and DuckDB share the syntax): every
      // non-aggregate select item becomes a grouping key — the
      // maintenance-proof form of wide rollups (adding a dimension to the
      // SELECT can't silently diverge from the GROUP BY list). Resolves at
      // analysis; the plan is the ordinary hash aggregate.
      t(s, dir, "orders").createOrReplaceTempView("gba_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    AS revenue
           FROM gba_orders GROUP BY ALL""")
    }, oracle =
      // DuckDB shares GROUP BY ALL verbatim
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM orders GROUP BY ALL"""),
    Query("q_offset", (s, dir) => {
      // LIMIT ... OFFSET pagination (Spark 3.4+): page 3 of a
      // 10-per-page listing over a TOTAL order (balance desc, key) — the
      // offset boundary is deterministic, so the page contents hash-gate.
      // At scale OFFSET pushes into the global TakeOrdered (limit+offset
      // rows tracked, not a full sort); keyset pagination remains the
      // 100 TB-polite alternative, which is exactly why the total order
      // here is also a valid keyset.
      t(s, dir, "customer").createOrReplaceTempView("off_customer")
      s.sql(
        """SELECT c_custkey, c_name, c_acctbal FROM off_customer
           ORDER BY c_acctbal DESC, c_custkey LIMIT 10 OFFSET 20""")
    }, oracle =
      """SELECT c_custkey, c_name, c_acctbal FROM customer
         ORDER BY c_acctbal DESC, c_custkey LIMIT 10 OFFSET 20"""),
    Query("q_sql_pipe", (s, dir) => {
      // SQL pipe syntax (Spark 4 `|>`): the linear FROM → WHERE → EXTEND →
      // AGGREGATE → WHERE chain, each stage consuming the previous stage's
      // output — the composable form of scan→filter→derive→agg→having.
      // Purely parser surface: the plan is the SAME Aggregate-over-Filter
      // Catalyst produces for the nested SELECT (pushdown/codegen intact),
      // which is exactly what the oracle runs as classic SQL.
      t(s, dir, "lineitem").createOrReplaceTempView("pipe_lineitem")
      s.sql(
        """FROM pipe_lineitem
           |> WHERE l_quantity >= 10
           |> EXTEND l_extendedprice * (1.0 - l_discount) AS disc_price
           |> AGGREGATE count(*) AS n_items,
                CAST(sum(CAST(disc_price AS DECIMAL(18,4))) AS DOUBLE)
                  AS revenue
              GROUP BY l_returnflag
           |> WHERE n_items > 0""")
    }, oracle =
      // the pipe chain resolved to classic SQL: same filter, same derived
      // column, same decimal aggregate, HAVING for the post-agg WHERE
      """SELECT l_returnflag, count(*) AS n_items,
                CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
                              AS DECIMAL(18,4))) AS DOUBLE) AS revenue
         FROM lineitem WHERE l_quantity >= 10
         GROUP BY l_returnflag HAVING count(*) > 0"""),
    Query("q_exec_immediate", (s, dir) => {
      // EXECUTE IMMEDIATE: SQL-from-a-string with named parameter binding
      // (`:lo` bound via USING) — the dynamic-SQL entry point for tooling
      // that assembles statements at runtime. The parameter binds as a
      // LITERAL (injection-safe, like q_params), so it constant-folds and
      // pushes down; the oracle runs the resolved statement directly.
      t(s, dir, "orders").createOrReplaceTempView("ei_orders")
      s.sql(
        """EXECUTE IMMEDIATE
             'SELECT o_orderstatus AS status, count(*) AS n_orders,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                       AS revenue
              FROM ei_orders WHERE o_totalprice > :lo
              GROUP BY o_orderstatus'
           USING 100000 AS lo""")
    }, oracle =
      // the dynamic statement with :lo resolved to its bound literal
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                  AS revenue
         FROM orders WHERE o_totalprice > 100000
         GROUP BY o_orderstatus"""),
    Query("q_sql_script", (s, dir) => {
      // SQL scripting (Spark 4 BEGIN…END): DECLAREd variables + a WHILE
      // loop driving three partitioned scalar subqueries whose running
      // totals must equal the one-pass whole-table aggregate the oracle
      // runs — control flow is on the driver, each loop body statement is
      // a full distributed query, and the hash gates the accumulation.
      // Cents are exact integers, so += across iterations is associative.
      t(s, dir, "orders").createOrReplaceTempView("script_orders")
      // save/restore like the partitionOverwriteMode sites: the scripting
      // flag must not leak into every later query on the shared session
      val prevScripting = s.conf.getOption("spark.sql.scripting.enabled")
      s.conf.set("spark.sql.scripting.enabled", "true")
      try s.sql(
        """BEGIN
             DECLARE i INT DEFAULT 0;
             DECLARE n_total BIGINT DEFAULT 0;
             DECLARE cents BIGINT DEFAULT 0;
             WHILE i < 3 DO
               SET n_total = n_total + (
                 SELECT count(*) FROM script_orders WHERE o_orderkey % 3 = i);
               SET cents = cents + (
                 SELECT COALESCE(sum(CAST(round(o_totalprice * 100) AS BIGINT)), 0)
                 FROM script_orders WHERE o_orderkey % 3 = i);
               SET i = i + 1;
             END WHILE;
             SELECT n_total AS n_orders, cents AS sum_cents;
           END""")
      finally prevScripting match {
        case Some(v) => s.conf.set("spark.sql.scripting.enabled", v)
        case None => s.conf.unset("spark.sql.scripting.enabled")
      }
    }, oracle =
      // the loop's three disjoint o_orderkey%3 partitions cover the table,
      // so the accumulated totals equal the one-pass aggregate
      """SELECT count(*) AS n_orders,
                CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS sum_cents
         FROM orders"""),
    Query("q_higher_order", (s, dir) =>
      // higher-order array functions (lambda surface): transform / filter /
      // exists / forall / zip_with / aggregate over the embedding column.
      // Every fold runs in INDEX order with a 0.0 init (0+x is exact), and
      // floats widen to double before arithmetic, so each IEEE sequence is
      // bit-identical to the oracle's list_transform/list_reduce replay.
      // Lambdas are codegen'd expressions — no UDF boundary; at scale this
      // is per-row work fused into the scan stage.
      t(s, dir, "embeddings").select(
        col("vec_id"),
        expr("""aggregate(transform(embedding, x -> CAST(x AS DOUBLE)),
                          CAST(0.0 AS DOUBLE), (a, x) -> a + x)""").as("sum_all"),
        expr("size(filter(embedding, x -> CAST(x AS DOUBLE) > 0.0D))").as("n_pos"),
        expr("exists(embedding, x -> CAST(x AS DOUBLE) > 0.9D)").as("has_big"),
        expr("forall(embedding, x -> abs(CAST(x AS DOUBLE)) <= 2.0D)").as("bounded2"),
        expr("""aggregate(zip_with(embedding, reverse(embedding),
                            (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                          CAST(0.0 AS DOUBLE), (a, v) -> a + v)""").as("dot_rev")), oracle =
      // list_reduce has no init operand → prepend 0.0 (0+x is IEEE-exact),
      // then fold in the same index order as Spark's aggregate(); list_zip
      // structs are unnamed → positional s[1]/s[2] access
      """SELECT vec_id,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(embedding, x -> CAST(x AS DOUBLE))),
                  (a, x) -> a + x) AS sum_all,
                CAST(len(list_filter(embedding,
                    x -> CAST(x AS DOUBLE) > 0.0)) AS INTEGER) AS n_pos,
                len(list_filter(embedding,
                    x -> CAST(x AS DOUBLE) > 0.9)) > 0 AS has_big,
                len(list_filter(embedding,
                    x -> abs(CAST(x AS DOUBLE)) > 2.0)) = 0 AS bounded2,
                list_reduce(list_prepend(CAST(0 AS DOUBLE),
                    list_transform(list_zip(embedding, list_reverse(embedding)),
                      s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE))),
                  (a, v) -> a + v) AS dot_rev
         FROM embeddings"""),
    Query("q_join_multi", (s, dir) => {
      // TPC-H Q5-shaped star join: facts shuffle on keys, dims broadcast.
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
             count(lit(1)).as("n_items"))
    }, oracle =
      """SELECT r_name, n_name,
                CAST(sum(CAST(l_extendedprice*(1.0-l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
                count(*) AS n_items
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                       JOIN customer ON o_custkey = c_custkey
                       JOIN nation ON c_nationkey = n_nationkey
                       JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name"""),
    Query("q_skew_join", (s, dir) => {
      // Salted equi-join (operators/SkewJoin): the explicit hot-key defense
      // for when AQE's skew split can't help (single key > one task's
      // memory). Result is provably identical to the plain join — the
      // oracle IS the plain join.
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
      graft.operators.SkewJoin.saltedJoin(li, o, Seq("o_orderkey"), 8)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
    }, oracle =
      // the salted join must be indistinguishable from the plain join — so
      // the oracle IS the plain join
      """SELECT o_orderstatus, count(*) AS n_items,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus"""),
    Query("q_anti_join", (s, dir) => {
      // The one genuine join in the reference's semantics: PK insert-if-absent
      // (O13, gcs_to_postgres.py:153-177) = left anti join.
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 250000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    }, oracle =
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000.0)"""),
    Query("q_semi_join", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 150000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    }, oracle =
      """SELECT c_custkey, c_mktsegment FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 150000.0)"""),

    // --- windows -----------------------------------------------------------
    Query("q_window_rank", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast(IntegerType))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    }, oracle =
      """SELECT o_custkey, o_orderkey, rn FROM (
           SELECT o_custkey, o_orderkey,
                  CAST(row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS INTEGER) AS rn
           FROM orders) t WHERE rn <= 3"""),
    Query("q_window_running", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("running",
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running")
    }, oracle =
      """SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
                  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
         FROM orders"""),
    Query("q_window_rankfuncs", (s, dir) => {
      // ranking-function family: ntile/percent_rank/cume_dist on a total
      // order (rank arithmetic over identical ints → identical doubles)
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
    }, oracle =
      """SELECT o_orderkey, o_orderpriority,
                CAST(ntile(4) OVER w AS INTEGER) AS quartile,
                round(percent_rank() OVER w, 6) AS pct_rank,
                round(cume_dist() OVER w, 6) AS cume
         FROM orders WINDOW w AS (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey)"""),
    Query("q_window_lag", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_orderdate", lag(col("o_orderdate"), 1).over(w))
        .select("o_custkey", "o_orderkey", "prev_orderdate")
    }, oracle =
      """SELECT o_custkey, o_orderkey,
                lag(o_orderdate, 1) OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS prev_orderdate
         FROM orders"""),
    Query("q_window_firstlast", (s, dir) => {
      // value-window family over the full frame: first/last/nth event per
      // user in (ts, event_id) order — the unique tie-break keeps both
      // engines' frames identical
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("user_id"),
          first(col("event_id")).over(w).as("first_event"),
          last(col("event_id")).over(w).as("last_event"),
          nth_value(col("event_id"), 2).over(w).as("second_event"))
        .distinct()
    }, oracle =
      // epoch_us, NOT raw ts: DuckDB reads events.ts at ns precision while
      // Spark floors to µs, so a raw-ts ORDER BY would tie-break by ns
      // where Spark tie-breaks by event_id (same rule as q_sessionize)
      """SELECT DISTINCT user_id,
                first_value(event_id) OVER w AS first_event,
                last_value(event_id) OVER w AS last_event,
                nth_value(event_id, 2) OVER w AS second_event
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""),
    Query("q_string_agg", (s, dir) => {
      // ordered string aggregation (LISTAGG): deterministic via sort-then-
      // join, matching the oracle's string_agg(... ORDER BY)
      t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(array_join(array_sort(collect_list(col("n_name"))), ",").as("nations"),
          count(lit(1)).as("n_nations"))
    }, oracle =
      """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations,
                count(*) AS n_nations
         FROM nation JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name"""),
    Query("q_histogram", (s, dir) => {
      // equi-width binning: floor-division bucket ids (identical doubles →
      // identical buckets cross-engine), clamped to the last bucket
      t(s, dir, "orders")
        .withColumn("bucket",
          least(floor(col("o_totalprice") / 50000.0), lit(11L)).cast(IntegerType))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
    }, oracle =
      """SELECT CAST(least(floor(o_totalprice / 50000.0), 11) AS INTEGER) AS bucket,
                count(*) AS n_orders,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY 1"""),
    Query("q_session_window", (s, dir) => {
      // session_window as a BATCH aggregation (same operator the streaming
      // twin uses; gap >= 30 min starts a new session)
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
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
    Query("q_sessionize", (s, dir) => {
      // Gap-based sessionization over the events stream table (30-min gap).
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
        .withColumn("is_new",
          when(lag(col("us"), 1).over(w).isNull
            || col("us") - lag(col("us"), 1).over(w) > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_id", sum(col("is_new")).over(cum).cast(IntegerType))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             (max(col("us")) - min(col("us"))).as("dur_us"))
    }, oracle =
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         flagged AS (
           SELECT user_id, event_id, us,
                  CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
         sess AS (
           SELECT user_id, us,
                  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER) AS session_id
           FROM flagged)
         SELECT user_id, session_id, count(*) AS n_events,
                CAST(max(us) - min(us) AS BIGINT) AS dur_us
         FROM sess GROUP BY user_id, session_id"""),

    // --- sort / limit / distinct / set ops ---------------------------------
    Query("q_topk_perkey", (s, dir) => {
      // custom physical operator (graft.plans.TopKPerKey): bounded per-key
      // heaps instead of the window function's full per-key sort
      org.apache.spark.sql.GraftPlanBridge.topKPerKey(
        t(s, dir, "orders"),
        Seq("o_custkey"),
        Seq("o_totalprice" -> false, "o_orderkey" -> true), k = 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }, oracle =
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t WHERE rn <= 2"""),
    Query("q_topk_rewrite", (s, dir) => {
      // the SAME query as q_topk_perkey but written in the stock
      // row_number-window idiom — the WindowTopKRewrite optimizer rule
      // (installed lazily, like the strategy) rewrites it into the
      // two-phase TopKPerKey operator. Declared separately so the driver
      // gate proves the REWRITTEN plan produces oracle-exact rows; the
      // plan shape itself is asserted in WindowTopKRewriteSpec.
      org.apache.spark.sql.GraftPlanBridge.installTopK(s)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }, oracle =
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t WHERE rn <= 2"""),
    Query("q_topk", (s, dir) => {
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"""),
    Query("q_distinct", (s, dir) => {
      t(s, dir, "customer").select("c_mktsegment", "c_nationkey").distinct()
    }, oracle =
      """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"""),
    Query("q_union", (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      val sp = t(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
      c.unionByName(sp).groupBy("nationkey").agg(count(lit(1)).as("n_entities"))
    }, oracle =
      """SELECT nationkey, count(*) AS n_entities FROM (
           SELECT c_nationkey AS nationkey FROM customer
           UNION ALL
           SELECT s_nationkey AS nationkey FROM supplier) t
         GROUP BY nationkey"""),
    Query("q_except", (s, dir) => {
      t(s, dir, "customer").filter(col("c_acctbal") > 9000.0)
        .select(col("c_nationkey").as("nationkey"))
        .except(t(s, dir, "supplier").filter(col("s_acctbal") > 5000.0)
          .select(col("s_nationkey").as("nationkey")))
    }, oracle =
      """SELECT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000.0
         EXCEPT SELECT s_nationkey AS nationkey FROM supplier WHERE s_acctbal > 5000.0"""),
    Query("q_intersect", (s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
    }, oracle =
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT SELECT s_nationkey AS nationkey FROM supplier"""),

    // --- scalar functions --------------------------------------------------
    Query("q_string_funcs", (s, dir) => {
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_uc"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 8).as("name_prefix"),
        concat(col("p_brand"), lit("-"), col("p_size").cast("string")).as("brand_size"),
        expr("replace(p_type, ' ', '_')").as("type_u"))
    }, oracle =
      """SELECT p_partkey, upper(p_brand) AS brand_uc,
                CAST(length(p_name) AS INTEGER) AS name_len,
                substr(p_name, 1, 8) AS name_prefix,
                p_brand || '-' || CAST(p_size AS VARCHAR) AS brand_size,
                replace(p_type, ' ', '_') AS type_u
         FROM part"""),
    Query("q_date_funcs", (s, dir) => {
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"),
             min(col("o_orderdate")).as("first_date"),
             min(date_trunc("month", col("o_orderdate"))).as("month_start"))
    }, oracle =
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
                CAST(month(o_orderdate) AS INTEGER) AS mo,
                count(*) AS n_orders,
                min(o_orderdate) AS first_date,
                CAST(min(date_trunc('month', o_orderdate)) AS TIMESTAMP) AS month_start
         FROM orders GROUP BY 1, 2"""),
    Query("q_math_funcs", (s, dir) => {
      // exact-result math only (abs/ceil/floor/mod/sign, power on small
      // ints) — ln/exp/trig are not bit-reproducible across engines
      t(s, dir, "orders").select(
        col("o_orderkey"),
        abs(col("o_totalprice") - 100000.0).as("abs_diff"),
        ceil(col("o_totalprice")).cast("bigint").as("ceil_price"),
        floor(col("o_totalprice")).cast("bigint").as("floor_price"),
        (col("o_orderkey") % 7).as("mod7"),
        signum(col("o_totalprice") - 100000.0).cast("int").as("sign_diff"),
        pow(lit(2.0), (col("o_orderkey") % 10).cast("double")).cast("bigint").as("pow2"))
    }, oracle =
      """SELECT o_orderkey,
                abs(o_totalprice - 100000.0) AS abs_diff,
                CAST(ceil(o_totalprice) AS BIGINT) AS ceil_price,
                CAST(floor(o_totalprice) AS BIGINT) AS floor_price,
                o_orderkey % 7 AS mod7,
                CAST(sign(o_totalprice - 100000.0) AS INTEGER) AS sign_diff,
                CAST(power(2.0, CAST(o_orderkey % 10 AS DOUBLE)) AS BIGINT) AS pow2
         FROM orders"""),
    Query("q_map_funcs", (s, dir) => {
      // semi-structured → typed map → generator (explode over map entries)
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.IntegerType)).as("m"))
        .select(col("event_id"), explode(col("m")).as(Seq("key", "value")))
        .groupBy("key")
        .agg(count(lit(1)).as("n_entries"),
          sum(col("value")).cast("bigint").as("sum_value"),
          max(col("value")).as("max_value"))
    }, oracle =
      """WITH kv AS (
           SELECT event_id,
                  unnest(json_keys(props)) AS key,
                  unnest(list_transform(json_keys(props),
                    k -> CAST(json_extract_string(props, '$.' || k) AS INTEGER))) AS value
           FROM events)
         SELECT key, count(*) AS n_entries,
                CAST(sum(value) AS BIGINT) AS sum_value,
                max(value) AS max_value
         FROM kv GROUP BY key"""),
    Query("q_date_arith", (s, dir) => {
      // calendar arithmetic: month addition (end-of-month clamping), day
      // offsets, month boundaries, day-of-week — all calendar-exact ops
      t(s, dir, "orders").select(
        col("o_orderkey"),
        add_months(col("o_orderdate"), 3).as("plus3mo"),
        date_add(col("o_orderdate"), 45).as("plus45d"),
        last_day(col("o_orderdate")).as("month_end"),
        dayofweek(col("o_orderdate")).as("dow"),
        quarter(col("o_orderdate")).as("qtr"))
    }, oracle =
      """SELECT o_orderkey,
                CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3mo,
                CAST(o_orderdate + INTERVAL 45 DAY AS DATE) AS plus45d,
                last_day(CAST(o_orderdate AS DATE)) AS month_end,
                CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
                CAST(quarter(o_orderdate) AS INTEGER) AS qtr
         FROM orders"""),
    Query("q_json_extract", (s, dir) => {
      // events.props is a JSON string column (semi-structured staging records,
      // reference O11: gcs_to_postgres.py:160-161).
      t(s, dir, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
             sum(col("k")).cast("bigint").as("sum_k"),
             max(col("k")).as("max_k"))
    }, oracle =
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
                max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
         FROM events GROUP BY event_type"""),
    Query("q_time_bucket", (s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    }, oracle =
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts, event_type,
                count(*) AS n_events,
                CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2"""),

    Query("q_zscore", (s, dir) => {
      // rolling z-score anomaly detection: flag hours whose event count
      // sits >= 2σ from the trailing-24h mean of that event type. The
      // window sums are INTEGER-exact (counts and squared counts — no FP
      // accumulation at all); mean/variance/σ/z are then a fixed chain of
      // IEEE ops on identical operands in both engines (sqrt is
      // correctly-rounded by IEEE-754, unlike libm pow/log). RANGE frame
      // over the integer hour index keeps gaps honest (a missing hour
      // narrows the window rather than silently shifting it). One shuffle
      // (hourly rollup), one window pass, both keyed by event_type.
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("n_events"))
      val win = Window.partitionBy("event_type").orderBy("hr")
        .rangeBetween(-23, 0)
      hourly
        .withColumn("sx", sum(col("n_events")).over(win).cast("double"))
        .withColumn("sxx",
          sum(col("n_events") * col("n_events")).over(win).cast("double"))
        .withColumn("nn", count(lit(1)).over(win).cast("double"))
        .filter(col("nn") >= 12 &&
          col("nn") * col("sxx") - col("sx") * col("sx") > 0)
        .withColumn("z",
          (col("n_events").cast("double") - col("sx") / col("nn")) /
            sqrt((col("nn") * col("sxx") - col("sx") * col("sx")) /
              (col("nn") * col("nn"))))
        .filter(abs(col("z")) >= 2)
        .select(col("event_type"), col("hr"), col("n_events"),
          round(col("z"), 6).as("z"))
    }, oracle =
      // window sums are integer-exact; the mean/var/σ/z chain is the same
      // IEEE op sequence as the engine's (sqrt is correctly rounded)
      """WITH hourly AS (
           SELECT event_type,
                  epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
                  count(*) AS n_events
           FROM events GROUP BY 1, 2),
         w AS (SELECT event_type, hr, n_events,
                 CAST(sum(n_events) OVER win AS DOUBLE) AS sx,
                 CAST(sum(n_events * n_events) OVER win AS DOUBLE) AS sxx,
                 CAST(count(*) OVER win AS DOUBLE) AS nn
               FROM hourly
               WINDOW win AS (PARTITION BY event_type ORDER BY hr
                 RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)),
         z AS (SELECT event_type, hr, n_events,
                 (CAST(n_events AS DOUBLE) - sx / nn) /
                   sqrt((nn * sxx - sx * sx) / (nn * nn)) AS z
               FROM w WHERE nn >= 12 AND nn * sxx - sx * sx > 0)
         SELECT event_type, hr, n_events, round(z, 6) AS z
         FROM z WHERE abs(z) >= 2"""),
    Query("q_acf", (s, dir) => {
      // autocorrelation function of the hourly event-count series, lags
      // 1..24h per event type — the seasonality probe behind capacity
      // planning. Lag expansion is a GENERATOR (explode(sequence)), not a
      // dim join, so no nested loop ever plans; pairing is one equi-join
      // on (type, hr−lag); every moment (Σx, Σy, Σxy, Σx², Σy²) is an
      // INTEGER sum of integer products — zero FP accumulation — and the
      // Pearson chain on top is a fixed IEEE op sequence whose operands
      // are exactly representable, so both engines agree bit-for-bit.
      // At scale: one hourly rollup shuffle (map-side combined), one
      // 24×-amplified self-join keyed by (type, hr) — hours-cardinality,
      // not events-cardinality — then a (type, lag)-keyed partial agg.
      val hourly = t(s, dir, "events")
        .groupBy(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000").as("hr"))
        .agg(count(lit(1)).as("n"))
      val lagged = hourly
        .withColumn("lag", explode(expr("sequence(1, 24)")))
        .select(col("event_type"), col("hr"), col("n").as("x"), col("lag"))
      val prior = hourly.select(col("event_type").as("pe"),
        col("hr").as("phr"), col("n").as("y"))
      lagged
        .join(prior, col("event_type") === col("pe") &&
          col("phr") === col("hr") - col("lag"))
        .groupBy("event_type", "lag")
        .agg(count(lit(1)).as("np"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .filter(col("np") >= 24 &&
          col("np") * col("sxx") - col("sx") * col("sx") > 0 &&
          col("np") * col("syy") - col("sy") * col("sy") > 0)
        .select(col("event_type"), col("lag"), col("np").as("n_pairs"),
          round((col("np").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("np").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
             sqrt(col("np").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("acf"))
    }, oracle =
      // integer moments, then the identical Pearson IEEE chain — all
      // double operands are exactly representable integers
      """WITH hourly AS (
           SELECT event_type,
                  epoch_us(date_trunc('hour', ts)) // 3600000000 AS hr,
                  count(*) AS n
           FROM events GROUP BY 1, 2),
         lagged AS (SELECT event_type, hr, n AS x, CAST(gs.l AS INTEGER) AS lag
                    FROM hourly
                    CROSS JOIN (SELECT unnest(generate_series(1, 24)) AS l) gs),
         j AS (SELECT l.event_type, l.lag, l.x, p.n AS y
               FROM lagged l JOIN hourly p
                 ON l.event_type = p.event_type AND p.hr = l.hr - l.lag),
         a AS (SELECT event_type, lag, count(*) AS np,
                      sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
                      sum(x*x) AS sxx, sum(y*y) AS syy
               FROM j GROUP BY 1, 2)
         SELECT event_type, lag, CAST(np AS BIGINT) AS n_pairs,
                round((CAST(np AS DOUBLE)*CAST(sxy AS DOUBLE) -
                       CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
                      (sqrt(CAST(np AS DOUBLE)*CAST(sxx AS DOUBLE) -
                            CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
                       sqrt(CAST(np AS DOUBLE)*CAST(syy AS DOUBLE) -
                            CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6) AS acf
         FROM a
         WHERE np >= 24 AND np*sxx - sx*sx > 0 AND np*syy - sy*sy > 0"""),

    Query("q_skew_report", (s, dir) => {
      // per-key skew diagnostics over customer order counts by priority —
      // the distribution profile that decides salting / AQE-skew-join
      // thresholds before a 100 TB join. Exact-rank percentiles (integer
      // arithmetic on row_number, no float percentile function), top-5
      // concentration share as ONE IEEE division of exact integers.
      val cnt = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("prio"), col("o_custkey"))
        .agg(count(lit(1)).as("c"))
      val wAsc = Window.partitionBy("prio").orderBy(col("c"), col("o_custkey"))
      val wDesc = Window.partitionBy("prio")
        .orderBy(col("c").desc, col("o_custkey"))
      cnt
        .withColumn("rn", row_number().over(wAsc))
        .withColumn("rd", row_number().over(wDesc))
        .withColumn("nk", count(lit(1)).over(Window.partitionBy("prio")))
        .groupBy("prio")
        .agg(
          count(lit(1)).as("n_keys"),
          sum("c").cast("long").as("n_rows"),
          max("c").as("max_per_key"),
          max(when(col("rn") === expr("(nk + 1) DIV 2"), col("c"))).as("p50"),
          max(when(col("rn") === expr("(99 * nk + 99) DIV 100"), col("c")))
            .as("p99"),
          round(sum(when(col("rd") <= 5, col("c"))).cast("double") /
            sum("c"), 6).as("top5_share"))
    }, oracle =
      """WITH cnt AS (
           SELECT o_orderpriority AS prio, o_custkey, count(*) AS c
           FROM orders GROUP BY 1, 2),
         r AS (SELECT prio, c,
                 row_number() OVER (PARTITION BY prio ORDER BY c, o_custkey) AS rn,
                 row_number() OVER (PARTITION BY prio ORDER BY c DESC, o_custkey) AS rd,
                 count(*) OVER (PARTITION BY prio) AS nk
               FROM cnt)
         SELECT prio,
                count(*) AS n_keys,
                CAST(sum(c) AS BIGINT) AS n_rows,
                max(c) AS max_per_key,
                max(CASE WHEN rn = (nk + 1) // 2 THEN c END) AS p50,
                max(CASE WHEN rn = (99 * nk + 99) // 100 THEN c END) AS p99,
                round(CAST(sum(CASE WHEN rd <= 5 THEN c END) AS DOUBLE) /
                      sum(c), 6) AS top5_share
         FROM r GROUP BY 1"""),

    Query("q_markov", (s, dir) => {
      // first-order Markov transition matrix over per-user event sequences
      // — the behavioral-model statistic behind next-action prediction and
      // anomaly scoring. prev state via lag over the TOTAL (ts, event_id)
      // order (event_id is unique, so every bigram is deterministic; the
      // oracle orders by epoch_us(ts) to share the engine's µs
      // truncation); P(next|prev) is ONE IEEE division of exact counts.
      // One events-sized shuffle (the window, keyed by user) then a
      // |types|²-row aggregate — map-side combined, broadcast total join.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val trans = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val tot = trans.groupBy("prev_type").agg(sum("n").as("n_prev"))
      trans.join(tot, "prev_type")
        .select(col("prev_type"), col("next_type"), col("n"),
          round(col("n").cast("double") / col("n_prev"), 6).as("p"))
    }, oracle =
      // window orders by epoch_us(ts) — the engine's µs truncation — so a
      // sub-µs ns difference can never order two events differently from
      // Spark; event_id breaks exact-µs ties identically in both engines
      """WITH seqd AS (
           SELECT user_id, event_type,
                  lag(event_type) OVER (
                    PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                  ) AS prev_type
           FROM events),
         trans AS (SELECT prev_type, event_type AS next_type, count(*) AS n
                   FROM seqd WHERE prev_type IS NOT NULL GROUP BY 1, 2),
         tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS n_prev
                 FROM trans GROUP BY 1)
         SELECT t.prev_type, t.next_type, t.n,
                round(CAST(t.n AS DOUBLE) / tot.n_prev, 6) AS p
         FROM trans t JOIN tot USING (prev_type)"""),

    Query("q_ewma", (s, dir) => {
      // trailing exponentially-weighted mean of each user's daily value
      // (half-life = 1 day, 10-day window) — the smoothing every metrics
      // pipeline applies before alerting. The decay weight is 2^-diff,
      // EXACT in binary floating point (shiftleft + one division — no
      // libm pow, which is not bit-portable across engines); weighted
      // numerator/denominator accumulate in DECIMAL(28,16)
      // (order-independent), the mean is one IEEE division. The trailing
      // window is an equi join on user_id with a 10-day band filter —
      // per-user daily series keep every join bucket tiny, and the plan
      // is join + one map-side-combined agg.
      val daily = t(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(dsum(col("value")).as("v"))
      val hist = daily.select(col("user_id"), col("day").as("day_b"),
        col("v").as("v_b"))
      daily.join(hist, Seq("user_id"))
        .filter(datediff(col("day"), col("day_b")).between(0, 9))
        .withColumn("diff", datediff(col("day"), col("day_b")))
        .withColumn("w", expr(
          "CAST(1.0 AS DOUBLE) / CAST(shiftleft(1L, diff) AS DOUBLE)"))
        .groupBy(col("user_id"), col("day"))
        .agg(
          max(when(col("diff") === 0, col("v_b"))).as("v"),
          (sum((col("w") * col("v_b")).cast(DecimalType(28, 16)))
            .cast("double") /
           sum(col("w").cast(DecimalType(28, 16))).cast("double"))
            .as("raw"))
        .select(col("user_id"), col("day"), col("v"),
          round(col("raw"), 6).as("ewma"))
    }, oracle =
      // weight 2^-diff is exact in binary FP (1 << diff, one division);
      // weighted sums accumulate in DECIMAL(28,16) exactly like the engine
      """WITH daily AS (
           SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
           FROM events GROUP BY 1, 2),
         j AS (SELECT a.user_id, a.day, b.v AS v_b,
                      date_diff('day', b.day, a.day) AS diff
               FROM daily a JOIN daily b ON a.user_id = b.user_id
                 AND b.day <= a.day AND b.day >= a.day - INTERVAL 9 DAY),
         wj AS (SELECT user_id, day, diff, v_b,
                       CAST(1.0 AS DOUBLE) / CAST(1 << diff AS DOUBLE) AS w
                FROM j)
         SELECT user_id, day,
                max(CASE WHEN diff = 0 THEN v_b END) AS v,
                round(CAST(sum(CAST(w * v_b AS DECIMAL(28,16))) AS DOUBLE) /
                      CAST(sum(CAST(w AS DECIMAL(28,16))) AS DOUBLE), 6) AS ewma
         FROM wj GROUP BY 1, 2"""),

    Query("q_range_join", (s, dir) => {
      // BANDED interval self-join: pairs of events by the same user within
      // 60s. The equi-join key is (user_id, time_bucket) with bucket width
      // = the 60s window, one side exploded to its bucket ± 1: any pair
      // within the window differs by at most one bucket, and each
      // qualifying pair matches on exactly one exploded value (b's exploded
      // bucket that equals a's) — no dedup needed. This bounds every join
      // bucket to one user-minute, so a single hot user at 100 TB can no
      // longer form a quadratic bucket; cost is a 3× replication of one
      // side, which AQE-splits cleanly.
      val w = 60L * 1000000L
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      val a = ev.withColumn("bucket", expr(s"us div $w"))
      val b = ev.withColumn("bucket",
        explode(array(expr(s"us div $w") - 1, expr(s"us div $w"), expr(s"us div $w") + 1)))
      a.as("a").join(b.as("b"),
          col("a.user_id") === col("b.user_id")
            && col("a.bucket") === col("b.bucket")
            && col("a.event_id") < col("b.event_id")
            && abs(col("a.us") - col("b.us")) <= w)
        .select(col("a.user_id").as("user_id"),
          col("a.event_id").as("ev_a"), col("b.event_id").as("ev_b"),
          abs(col("a.us") - col("b.us")).as("gap_us"))
    }, oracle =
      """SELECT a.user_id, a.event_id AS ev_a, b.event_id AS ev_b,
                abs(epoch_us(a.ts) - epoch_us(b.ts)) AS gap_us
         FROM events a JOIN events b
           ON a.user_id = b.user_id AND a.event_id < b.event_id
          AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 60000000"""),
    Query("q_grouping_sets", (s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
               FROM orders_gs
               GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""")
    }, oracle =
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""),
    Query("q_asof_join", (s, dir) => {
      // for each error event, the most recent click of the same user at or
      // before its timestamp (inclusive as-of; right side arg-max-deduped
      // per (user, ts) for determinism)
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin
        .asofJoin(errors, clicks, Seq("user_id"), "ts", "ts")
        .select("event_id", "user_id", "click_id")
    }, oracle =
      // µs-floored on BOTH the group key and the ASOF inequality: DuckDB
      // sees events.ts at ns precision while the engine floors to µs — raw
      // ts would group clicks at ns (splitting groups the engine merges)
      // and could flip the >= at µs-equal/ns-unequal pairs
      """WITH clicks AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
                  max(event_id) AS click_id FROM events
           WHERE event_type = 'click' GROUP BY 1, 2),
         errors AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_id
           FROM events WHERE event_type = 'error')
         SELECT e.event_id, e.user_id, c.click_id
         FROM errors e ASOF LEFT JOIN clicks c
           ON e.user_id = c.user_id AND e.ts >= c.ts"""),
    Query("q_asof_forward", (s, dir) => {
      // FORWARD as-of (merge_asof direction='forward'): for each error,
      // the user's EARLIEST click at or after it — the recovery-time
      // question ("what did the user do next"), mirroring q_asof_join's
      // backward window with the (currentRow, following) frame. Same
      // one-shuffle union construction; DuckDB's ASOF with `<=` replays
      // the direction natively.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin
        .asofJoinForward(errors, clicks, Seq("user_id"), "ts", "ts")
        .select("event_id", "user_id", "click_id")
    }, oracle =
      // same µs-floor rules as q_asof_join; `<=` flips DuckDB's ASOF to
      // the forward direction (nearest right row at or after)
      """WITH clicks AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
                  max(event_id) AS click_id FROM events
           WHERE event_type = 'click' GROUP BY 1, 2),
         errors AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_id
           FROM events WHERE event_type = 'error')
         SELECT e.event_id, e.user_id, c.click_id
         FROM errors e ASOF LEFT JOIN clicks c
           ON e.user_id = c.user_id AND e.ts <= c.ts"""),
    Query("q_asof_nearest", (s, dir) => {
      // NEAREST as-of (merge_asof direction='nearest'): for each error,
      // the click with the smallest |time gap| in either direction; equal
      // gaps prefer the earlier (backward) click. One union + one
      // two-frame window pass — the backward and forward candidates cost
      // a single shuffle together; DuckDB replays via two ASOF joins
      // (inclusive backward, strict forward — an equal-time click is the
      // gap-0 backward winner either way) and an explicit gap argmin.
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin
        .asofJoinNearest(errors, clicks, Seq("user_id"), "ts", "ts")
        .select("event_id", "user_id", "click_id")
    }, oracle =
      // both directions replayed natively (backward inclusive `>=`,
      // forward STRICT `<` — the engine's forward frame excludes
      // equal-time rows, which cannot matter: an equal-time click is the
      // backward candidate at gap 0 and gap ties prefer backward), then
      // the smaller µs gap wins
      """WITH clicks AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
                  max(event_id) AS click_id FROM events
           WHERE event_type = 'click' GROUP BY 1, 2),
         errors AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_id
           FROM events WHERE event_type = 'error'),
         b AS (SELECT e.event_id, e.user_id, e.ts,
                      c.click_id AS b_id, c.ts AS b_ts
               FROM errors e ASOF LEFT JOIN clicks c
                 ON e.user_id = c.user_id AND e.ts >= c.ts),
         f AS (SELECT e.event_id, c.click_id AS f_id, c.ts AS f_ts
               FROM errors e ASOF LEFT JOIN clicks c
                 ON e.user_id = c.user_id AND e.ts < c.ts)
         SELECT b.event_id, b.user_id,
                CASE WHEN f_id IS NULL THEN b_id
                     WHEN b_id IS NULL THEN f_id
                     WHEN epoch_us(b.ts) - epoch_us(b_ts)
                          <= epoch_us(f_ts) - epoch_us(b.ts) THEN b_id
                     ELSE f_id END AS click_id
         FROM b JOIN f USING (event_id)"""),
    Query("q_asof_tolerance", (s, dir) => {
      // as-of with a 10-minute staleness bound (merge_asof tolerance): the
      // latest preceding click still wins, but is nulled when older than
      // the bound — older in-bound clicks never resurrect a match
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select("user_id", "ts", "event_id")
      graft.operators.AsOfJoin
        .asofJoin(errors, clicks, Seq("user_id"), "ts", "ts",
          toleranceUs = Some(600000000L))
        .select("event_id", "user_id", "click_id")
    }, oracle =
      """WITH clicks AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts,
                  max(event_id) AS click_id FROM events
           WHERE event_type = 'click' GROUP BY 1, 2),
         errors AS (
           SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_id
           FROM events WHERE event_type = 'error')
         SELECT e.event_id, e.user_id,
                CASE WHEN epoch_us(e.ts) - epoch_us(c.ts) <= 600000000
                     THEN c.click_id END AS click_id
         FROM errors e ASOF LEFT JOIN clicks c
           ON e.user_id = c.user_id AND e.ts >= c.ts"""),

    // --- subqueries --------------------------------------------------------
    Query("q_in_subquery", (s, dir) => {
      // IN-subquery (decorrelates to a left semi join): parts supplied in
      // any high-value lineitem
      t(s, dir, "part").createOrReplaceTempView("part_in")
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_in")
      s.sql("""SELECT p_partkey, p_brand FROM part_in
               WHERE p_partkey IN (SELECT l_partkey FROM lineitem_in
                                   WHERE l_extendedprice > 80000.0)""")
    }, oracle =
      """SELECT p_partkey, p_brand FROM part
         WHERE p_partkey IN (SELECT l_partkey FROM lineitem
                             WHERE l_extendedprice > 80000.0)"""),
    Query("q_array_funcs", (s, dir) => {
      // array surface on the embedding column: size/slice/sort/element_at
      // (floats pass through untouched → exact in both engines). Outputs are
      // SCALAR only: an array-typed result column crashes the driver's pandas
      // row-sort ("unhashable type: numpy.ndarray"), so slice is exercised
      // through scalar derivatives.
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        element_at(col("embedding"), 1).as("first_val"),
        size(slice(col("embedding"), 1, 4)).as("head4_len"),
        element_at(slice(col("embedding"), 1, 4), 4).as("head4_last"),
        array_max(col("embedding")).as("max_val"),
        array_min(col("embedding")).as("min_val"),
        element_at(array_sort(col("embedding")), 32).as("median_low"))
    }, oracle =
      """SELECT vec_id,
                CAST(len(embedding) AS INTEGER) AS dim,
                embedding[1] AS first_val,
                CAST(len(embedding[1:4]) AS INTEGER) AS head4_len,
                (embedding[1:4])[4] AS head4_last,
                list_max(embedding) AS max_val,
                list_min(embedding) AS min_val,
                list_sort(embedding)[32] AS median_low
         FROM embeddings"""),
    Query("q_explode", (s, dir) =>
      // generator/table-function surface (LATERAL VIEW): posexplode the
      // leading tokens of each document — one generator feeding n output
      // rows per input row, positions preserved. Bounded to the first 5
      // tokens so the declared result stays row-count-stable vs corpus
      // document length.
      t(s, dir, "documents").select(col("doc_id"),
          posexplode(slice(split(col("text"), " "), 1, 5)).as(Seq("pos", "tok")))
        .select(col("doc_id"), (col("pos") + 1).cast(IntegerType).as("ord"),
          col("tok")), oracle =
      // DuckDB zips parallel unnests in one SELECT, so position + value come
      // from two aligned generators (no WITH ORDINALITY needed)
      """SELECT doc_id, CAST(ord AS INTEGER) AS ord, tok
         FROM (SELECT doc_id,
                      unnest(generate_series(1, least(5, len(toks)))) AS ord,
                      unnest(toks[1:least(5, len(toks))]) AS tok
               FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))"""),
    Query("q_lateral", (s, dir) => {
      // correlated LATERAL derived table: per-nation top-2 customers by
      // balance. Catalyst decorrelates the LIMIT-ed lateral into a
      // partitioned rank filter — per-key top-k without a per-key scan,
      // same plan family as q_topk_perkey. Raw doubles pass through
      // untouched; the (balance desc, custkey) order is total.
      t(s, dir, "customer").createOrReplaceTempView("q_lateral_customer")
      t(s, dir, "nation").createOrReplaceTempView("q_lateral_nation")
      s.sql(
        """SELECT n.n_name, t.c_custkey, t.c_acctbal
           FROM q_lateral_nation n,
           LATERAL (SELECT c_custkey, c_acctbal FROM q_lateral_customer c
                    WHERE c.c_nationkey = n.n_nationkey
                    ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""")
    }, oracle =
      """SELECT n.n_name, t.c_custkey, t.c_acctbal
         FROM nation n,
         LATERAL (SELECT c_custkey, c_acctbal FROM customer c
                  WHERE c.c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t"""),
    Query("q_correlated_subquery", (s, dir) => {
      // correlated scalar subquery — Catalyst decorrelates to an aggregate
      // + join (RewriteCorrelatedScalarSubquery); deterministic via the
      // decimal-avg formula on both sides
      t(s, dir, "orders").createOrReplaceTempView("orders_cs")
      s.sql("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders_cs o
               WHERE o_totalprice > 1.5 * (
                 SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/count(*)
                 FROM orders_cs i WHERE i.o_custkey = o.o_custkey)""")
    }, oracle =
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
         WHERE o_totalprice > 1.5 * (
           SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/count(*)
           FROM orders i WHERE i.o_custkey = o.o_custkey)"""),
    Query("q_pivot", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .withColumnsRenamed(Map("F" -> "n_f", "O" -> "n_o", "P" -> "n_p"))
        // absent (priority, status) combos: Spark pivot yields null, the
        // oracle's count FILTER yields 0 — align on 0
        .na.fill(0L, Seq("n_f", "n_o", "n_p"))
    }, oracle =
      """SELECT o_orderpriority,
                count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
                count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
                count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         FROM orders GROUP BY o_orderpriority"""),
    Query("q_unpivot", (s, dir) => {
      val wide = t(s, dir, "customer").groupBy("c_nationkey").agg(
        dsum(col("c_acctbal")).as("sum_bal"),
        count(lit(1)).cast("double").as("n_cust"))
      wide.unpivot(Array(col("c_nationkey")),
        Array(col("sum_bal"), col("n_cust")), "metric", "value")
    }, oracle =
      """WITH wide AS (SELECT c_nationkey,
                CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal,
                CAST(count(*) AS DOUBLE) AS n_cust
              FROM customer GROUP BY c_nationkey)
         SELECT c_nationkey, 'sum_bal' AS metric, sum_bal AS value FROM wide
         UNION ALL
         SELECT c_nationkey, 'n_cust' AS metric, n_cust AS value FROM wide"""),
    Query("q_window_range", (s, dir) => {
      // range-frame window: 7-day moving order revenue per day (day number
      // as the numeric range key — identical in both engines)
      // day_rev stays DECIMAL through the window sum (sliding-frame float
      // summation is algorithm-dependent per engine); both outputs cast to
      // DOUBLE only in the final projection
      val daily = t(s, dir, "orders")
        .groupBy(datediff(col("o_orderdate"), to_date(lit("1990-01-01"))).as("day_num"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).as("day_rev_dec"))
      val w = Window.orderBy(col("day_num")).rangeBetween(-6, 0)
      daily
        .withColumn("rev_7d", sum(col("day_rev_dec")).over(w).cast("double"))
        .select(col("day_num"), col("day_rev_dec").cast("double").as("day_rev"),
          col("rev_7d"))
    }, oracle =
      """WITH daily AS (
           SELECT CAST(date_diff('day', DATE '1990-01-01', o_orderdate) AS INTEGER) AS day_num,
                  sum(CAST(o_totalprice AS DECIMAL(18,2))) AS day_rev_dec
           FROM orders GROUP BY 1)
         SELECT day_num, CAST(day_rev_dec AS DOUBLE) AS day_rev,
                CAST(sum(day_rev_dec) OVER (ORDER BY day_num
                     RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev_7d
         FROM daily"""),
    Query("q_corr_stats", (s, dir) => {
      // Pearson correlation + stddev from exact decimal component sums —
      // the engine-native corr()/stddev() accumulate doubles in partition
      // order and cannot hash-match across engines
      val li = t(s, dir, "lineitem")
      val comps = li.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sx"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sy"),
        sum((col("l_quantity") * col("l_extendedprice")).cast(DecimalType(18, 4)))
          .cast("double").as("sxy"),
        sum((col("l_quantity") * col("l_quantity")).cast(DecimalType(18, 4)))
          .cast("double").as("sxx"),
        sum((col("l_extendedprice") * col("l_extendedprice")).cast(DecimalType(28, 4)))
          .cast("double").as("syy"))
      comps.select(col("l_returnflag"), col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qty_price"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
          / (col("n") * (col("n") - 1))), 4).as("stddev_qty"))
    }, oracle =
      """WITH comps AS (
           SELECT l_returnflag, count(*) AS n,
                  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                  CAST(sum(CAST(l_quantity*l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
                  CAST(sum(CAST(l_quantity*l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sxx,
                  CAST(sum(CAST(l_extendedprice*l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS corr_qty_price,
                round(sqrt((n*sxx - sx*sx) / (n*(n - 1))), 4) AS stddev_qty
         FROM comps"""),
    Query("q_null_funcs", (s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 250000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(dsum(col("o_totalprice")).as("big_spend"))
        .select(col("c_custkey"),
          coalesce(col("big_spend"), lit(0.0)).as("spend_or_zero"),
          col("big_spend").isNull.as("no_big_orders"),
          nullif(col("big_spend"), lit(0.0)).as("spend_or_null"))
    }, oracle =
      """SELECT c_custkey,
                coalesce(big_spend, 0.0) AS spend_or_zero,
                big_spend IS NULL AS no_big_orders,
                nullif(big_spend, 0.0) AS spend_or_null
         FROM (SELECT c_custkey,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS big_spend
               FROM customer LEFT JOIN orders
                 ON c_custkey = o_custkey AND o_totalprice > 250000.0
               GROUP BY c_custkey) t"""),
    Query("q_scalar_subquery", (s, dir) => {
      val o = t(s, dir, "orders")
      val avgPrice = o.agg(
        (sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double")
          / count(lit(1))).as("avg_tp"))
      o.crossJoin(broadcast(avgPrice))
        .filter(col("o_totalprice") > col("avg_tp"))
        .select("o_orderkey", "o_totalprice")
    }, oracle =
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_totalprice > (SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/count(*)
                               FROM orders)""")
  )

  /** q_zorder oracle: the identical magic-number bit spreading as
    * functions.ZOrder.spread16, unrolled as chained CTE steps (one per
    * shift/mask round) for both dimensions. lazy: referenced from
    * `queries` declared above. */
  private lazy val zorderOracleSql = {
    val steps = Seq(
      (8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
    val chain = steps.zipWithIndex.map { case ((sh, mask), i) =>
      s"""s${i + 2} AS (SELECT p_partkey,
            (xa | (xa << $sh)) & $mask AS xa,
            (xb | (xb << $sh)) & $mask AS xb FROM s${i + 1})"""
    }.mkString(",\n         ")
    s"""WITH d AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS a,
                          CAST(p_partkey % 1024 AS BIGINT) AS b FROM part),
         s1 AS (SELECT p_partkey, a & 65535 AS xa, b & 65535 AS xb FROM d),
         $chain
         SELECT p_partkey, CAST(xa | (xb << 1) AS BIGINT) AS zval FROM s5"""
  }
}
