package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Tables, TestSpark}
import graft.functions.TextFunctions

/** Library-level invariants for the dedup/similarity operators — properties
  * the oracle hash-check can't express (recall, symmetry, bounds). */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  def docs = Tables.load(spark, dir, "documents")
  def emb = Tables.load(spark, dir, "embeddings")

  test("shingles: n tokens yield n-2 trigrams (pre-distinct), short docs yield none") {
    import spark.implicits._
    val df = Seq("a b c d e", "x y", "one two three").toDF("text")
      .select(TextFunctions.shingles(TextFunctions.tokens(col("text")), 3).as("sh"))
    val got = df.select(size(col("sh"))).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 1))
  }

  test("bloom-pruned semi join equals the plain semi join, even FP-heavy") {
    val li = Tables.load(spark, dir, "lineitem")
    val keys = Tables.load(spark, dir, "orders")
      .filter(col("o_totalprice") > 150000.0).select("o_orderkey")
    val plain = li.join(keys.withColumnRenamed("o_orderkey", "l_orderkey"),
      Seq("l_orderkey"), "left_semi")
    // 256 bits for thousands of keys → bloom saturates with false
    // positives; the exact verify join must still clear every one
    val pruned = BloomPrune.prunedSemiJoin(li, keys, "l_orderkey", "o_orderkey",
      expectedItems = 16L, numBits = 256L)
    assert(pruned.count() == plain.count())
    assert(pruned.select("l_orderkey", "l_linenumber")
      .except(plain.select("l_orderkey", "l_linenumber")).count() == 0)
    // same-named key columns must not trip ambiguous resolution
    val sameName = BloomPrune.prunedSemiJoin(li,
      keys.withColumnRenamed("o_orderkey", "l_orderkey"), "l_orderkey", "l_orderkey",
      expectedItems = 16L, numBits = 256L)
    assert(sameName.count() == plain.count())
    // and a sane sketch actually prunes: the might-contain prefilter alone
    // passes fewer rows than the full table (sketch selectivity is real)
    val bloom = BloomPrune.buildBloom(keys, "o_orderkey", 100000L, 1L << 20)
    val prefiltered = li.filter(
      BloomPrune.mightContain(li, bloom, col("l_orderkey"))).count()
    assert(prefiltered < li.count())
    assert(prefiltered >= plain.count())
  }

  test("exact dedup groups partition the corpus") {
    val groups = TextDedup.exactGroups(docs, "doc_id", "text")
    val total = groups.agg(sum("n_copies")).first().getLong(0)
    assert(total == docs.count())
    assert(groups.filter(col("keep_id").isNull).count() == 0)
  }

  test("minhash LSH candidates recover all true Jaccard>=0.3 pairs (banding recall)") {
    val truePairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 3, 10)
      .select("doc_a", "doc_b")
    val cands = TextDedup.minhashLshPairs(docs, "doc_id", "text", 3, 15, 3)
      .select("doc_a", "doc_b")
    assert(truePairs.join(cands, Seq("doc_a", "doc_b"), "left_anti").count() == 0,
      "every true near-dup pair must be an LSH candidate at this threshold")
  }

  test("jaccard pairs satisfy the threshold and are canonical (a < b)") {
    val pairs = TextDedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 3, 10)
    assert(pairs.filter(col("doc_a") >= col("doc_b")).count() == 0)
    assert(pairs.filter(col("jaccard") < 0.3 - 1e-9).count() == 0)
    assert(pairs.filter(col("jaccard") > 1.0).count() == 0)
  }

  test("simhash is 32-bit and identical docs get identical hashes") {
    val sh = TextDedup.simhash(docs, "doc_id", "text")
    assert(sh.filter(col("simhash") < 0 || col("simhash") >= (1L << 32)).count() == 0)
    // duplicate the corpus under shifted ids: hashes must be equal per text
    val shifted = TextDedup.simhash(
      docs.withColumn("doc_id", col("doc_id") + 1000000L), "doc_id", "text")
      .withColumn("doc_id", col("doc_id") - 1000000L)
    assert(sh.join(shifted, "doc_id")
      .filter(sh("simhash") =!= shifted("simhash")).count() == 0)
  }

  test("approx_count_distinct lands within 5% of exact; declared flag is within-10pct") {
    import org.apache.spark.sql.functions.{approx_count_distinct, countDistinct}
    // tighter 5% assertion on the raw estimate (the declared query only
    // exposes the oracle-checked 10% flag)
    val raw = graft.Tables.load(spark, dir, "lineitem").groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx"),
        countDistinct(col("l_partkey")).as("exact")).collect()
    assert(raw.nonEmpty)
    raw.foreach { r =>
      val approx = r.getLong(r.fieldIndex("approx")).toDouble
      val exact = r.getLong(r.fieldIndex("exact")).toDouble
      assert(math.abs(approx - exact) / exact <= 0.05, s"$approx vs $exact")
    }
    val declared = graft.SparkEntry.queries("q_approx_distinct")(spark, dir).collect()
    assert(declared.nonEmpty)
    assert(declared.forall(r => r.getBoolean(r.fieldIndex("approx_within_10pct"))))
  }

  test("knnBrute: cosine bounds, k rows, self excluded, descending order") {
    val k = Similarity.knnBrute(emb, "vec_id", "embedding", 0L, 10).collect()
    assert(k.length == 10)
    assert(!k.map(_.getLong(0)).contains(0L))
    val cosines = k.map(_.getDouble(1))
    assert(cosines.forall(c => c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9))
    assert(cosines.sameElements(cosines.sorted(Ordering[Double].reverse)))
  }

  test("knnLsh results are a subset of the block, scored identically to brute force") {
    val lsh = Similarity.knnLsh(emb, "vec_id", "embedding", 0L, 10, 4)
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", 0L, 1000)
    // every LSH hit appears in the exhaustive ranking with the same cosine
    assert(lsh.join(brute, Seq("vec_id", "cosine"), "left_anti").count() == 0)
  }

  test("IVF knn: results come from probed cells and score identically to brute force") {
    val (assigned, centroids) = IvfIndex.build(emb, "vec_id", "embedding", k = 8)
    assert(assigned.count() == emb.count())
    assert(assigned.select("cell").distinct().count() <= 8)
    val q = emb.filter(col("vec_id") === 0L).select("embedding").first().getSeq[Float](0)
    val ivf = IvfIndex.knn(assigned.filter(col("vec_id") =!= 0L), centroids,
      "vec_id", "embedding", q, k = 10, nprobe = 3)
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", 0L, 1000)
    assert(ivf.count() == 10)
    assert(ivf.join(brute, Seq("vec_id", "cosine"), "left_anti").count() == 0,
      "IVF hits must appear in the exhaustive ranking with identical scores")
  }

  test("sampled-centroid IVF: valid cells, scores match brute, exhaustive probe = brute") {
    val sampled = IvfIndex.knnSampled(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, nCells = 16, nprobe = 4)
    val brute = Similarity.knnBrute(emb, "vec_id", "embedding", 0L, 1000)
    assert(sampled.count() == 10)
    // every hit appears in the exhaustive ranking with an identical score
    assert(sampled.join(brute, Seq("vec_id", "cosine"), "left_anti").count() == 0)
    // probing ALL cells degenerates to exact search: must equal brute top-10
    val all = IvfIndex.knnSampled(emb, "vec_id", "embedding",
      queryId = 0L, k = 10, nCells = 16, nprobe = 16).collect()
    val b10 = Similarity.knnBrute(emb, "vec_id", "embedding", 0L, 10).collect()
    assert(all.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      b10.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
  }

  test("IVF delete: tombstoned probe equals rebuild on survivors, erased ids gone") {
    val e = emb
    val dels = e.filter(pmod(col("vec_id"), lit(20)) === 17)
      .select(col("vec_id").as("del_id"))
    val kept = e.join(dels, e("vec_id") === dels("del_id"), "left_anti")
    val compacted = IvfIndex.assignSampled(e, "vec_id", "embedding", 16)
      .join(dels, col("vec_id") === dels("del_id"), "left_anti")
    val q = e.filter(col("vec_id") === 0L)
      .select("embedding").first().getSeq[Float](0)
    val probed = IvfIndex.probeSampled(compacted, kept, "vec_id", "embedding",
      q, queryId = 0L, k = 10, nCells = 16, nprobe = 4).collect()
    val rebuilt = IvfIndex.knnSampled(kept, "vec_id", "embedding",
      queryId = 0L, k = 10, nCells = 16, nprobe = 4).collect()
    assert(probed.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      rebuilt.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    assert(probed.forall(_.getLong(0) % 20 != 17), "erased ids must not serve")
  }

  test("PQ ADC: non-negative estimates; a codebook-seed neighbor scores its LUT row") {
    val pq = PqIndex.knnPq(emb, "vec_id", "embedding",
      queryId = 0L, k = 1000, m = 8, nCodes = 16).collect()
    assert(pq.forall(_.getDouble(1) >= 0.0), "squared distances must be >= 0")
    // vec 1 is itself a codebook seed: every sub-slice quantizes to its own
    // codeword with distance 0, so its ADC estimate is EXACTLY the summed
    // query<->codeword LUT distances of code 1 — i.e. the exact decimal
    // squared L2 between query and vec 1 (quantization error is zero).
    val exact = {
      val rows = emb.filter(col("vec_id").isin(0L, 1L))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
      rows(0L).zip(rows(1L)).map { case (x, y) =>
        val d = x.toDouble - y.toDouble
        new java.math.BigDecimal(d * d).setScale(16, java.math.RoundingMode.HALF_UP)
      }.foldLeft(java.math.BigDecimal.ZERO)(_.add(_))
    }
    val got = pq.find(_.getLong(0) == 1L).get.getDouble(1)
    assert(math.abs(got - exact.doubleValue()) < 1e-6,
      s"seed vector must carry zero quantization error: $got vs $exact")
  }

  test("nearDupPairs is symmetric-free (a<b) and respects the threshold") {
    val p = Similarity.nearDupPairs(emb, "vec_id", "embedding", 8, 0.35)
    assert(p.filter(col("vec_a") >= col("vec_b")).count() == 0)
    assert(p.filter(col("cosine") < 0.35 - 1e-6).count() == 0)
  }
}
