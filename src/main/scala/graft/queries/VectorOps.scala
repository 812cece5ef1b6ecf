package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.functions.FloatCosine
import graft.operators.{IvfIndex, PqIndex, Similarity}

/** Embedding similarity surface over the `embeddings` table (vec_id,
  * embedding array<float>, label): brute-force exact kNN (baseline),
  * sign-block LSH kNN (the scale path), and blocked near-dup pairs.
  * Cosines are computed with exact decimal accumulation (see Similarity)
  * so the DuckDB oracle reproduces them bit-for-bit.
  */
object VectorOps {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** One Lloyd ASSIGNMENT step against a (cell, pos, m) centroid frame:
    * pack centroids to arrays, broadcast, relational argmax of the
    * decimal-exact cosines (ties → smallest cell). Shared by the
    * iterated/convergent/trained k-means blocks. The centroid norm is one
    * decimal dot per CELL (rides the broadcast) and the vector norm one
    * per ROW — cosineFromParts recomposes the identical cosine doubles the
    * former per-pair cosineCols produced (3 dots/pair → 1), so assignment,
    * argmax, and every downstream hash are unchanged. */
  private def assignToCentroids(e: DataFrame, cent: DataFrame): DataFrame = {
    val centArr = cent.groupBy("cell")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        st => st.getField("m")).as("ce"))
      .withColumn("cn2", Similarity.decNorm2(col("ce")))
    // BOUNDED driver materialization: k centroid rows (the model being
    // trained, not corpus data — the Lloyd loops already take a driver
    // action per round). cn2 collected from the same decNorm2 expression
    // the former broadcast carried → identical doubles, and the per-row
    // AssignCellExpr projection replaces the corpus × broadcast(k)
    // explosion + shuffled argmax (same values, ties, hashes — see
    // AssignCellSpec).
    val rows = centArr.orderBy("cell").collect()
    require(rows.zipWithIndex.forall { case (r, i) => r.getInt(0) == i },
      s"assignToCentroids: cells must be contiguous 0..${rows.length - 1}")
    val cents: Array[Array[Double]] = rows.map(_.getSeq[Double](1).toArray)
    val cn2s: Array[Double] = rows.map(_.getDouble(2))
    import org.apache.spark.sql.GraftPlanBridge
    e.select(col("vec_id"), col("embedding"),
      GraftPlanBridge.exprColumn(graft.functions.AssignCellExpr(
        GraftPlanBridge.columnExpr(col("embedding")), cents, cn2s, 1e-6))
        .cast("int").as("cell"))
  }

  /** Shared PCA chain (v_pca / v_abtt): per-dimension decimal-exact means
    * (d-row MODEL collect — centering fuses into the scan as an array
    * literal), the centered Gram matrix as ONE nested-lambda generator
    * pass (partial aggregation absorbs the d² products map-side; the only
    * shuffle carries tasks·d² partials, never N·d²), then 4 unrolled
    * power-iteration rounds on the d²-row frame — decimal-exact matvec,
    * inf-norm normalize via a window over the d-row frame (the normalizer
    * converges to the dominant eigenvalue). Returns (means, v-frame with
    * columns (j, v, nrm)). */
  private def topComponent(e: DataFrame): (Array[Double], DataFrame) = {
    val ex = e.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).as("i"),
        col("x").cast("double").as("x"))
    val meanRows = ex.groupBy("i")
      .agg(sum(col("x").cast(DecimalType(28, 16))).as("sx"),
        count(lit(1)).as("n"))
      .select(col("i"),
        (col("sx").cast("double") / col("n").cast("double")).as("m"))
      .orderBy("i").collect() // BOUNDED: d rows — the model, not data
    val means: Array[Double] = meanRows.map(_.getDouble(1))
    require(meanRows.zipWithIndex.forall { case (r, k) => r.getInt(0) == k + 1 },
      "topComponent: dimensions must be contiguous 1..d")
    val cov = e.withColumn("m_arr", typedLit(means.toSeq))
      .select(explode(expr(
        """flatten(transform(embedding, (xi, di) ->
             transform(embedding, (xj, dj) ->
               named_struct('i', di + 1, 'j', dj + 1,
                 'p', CAST((CAST(xi AS DOUBLE) - element_at(m_arr, di + 1))
                         * (CAST(xj AS DOUBLE) - element_at(m_arr, dj + 1))
                       AS DECIMAL(28,16))))))""")).as("t"))
      .select(col("t.i"), col("t.j"), col("t.p"))
      .groupBy("i", "j")
      .agg(sum(col("p")).cast("double").as("c"))
      .localCheckpoint()
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    var v = cov.select(col("i").as("j")).distinct()
      .select(col("j"), lit(1.0).as("v"), lit(0.0).as("nrm"))
    for (_ <- 1 to 4) {
      val w = cov.join(v.select(col("j"), col("v")), "j")
        .groupBy("i")
        .agg(sum((col("c") * col("v"))
          .cast(DecimalType(28, 16))).cast("double").as("w"))
      v = w.select(col("i").as("j"),
          (col("w") / max(abs(col("w"))).over(wAll)).as("v"),
          max(abs(col("w"))).over(wAll).as("nrm"))
        .localCheckpoint()
    }
    (means, v)
  }

  /** The trained PCA model as ONE d-row frame (j, m, v, nrm) — means +
    * top component, the storable artifact of the topComponent chain. */
  private def componentFrame(e: DataFrame): DataFrame = {
    val (means, v) = topComponent(e)
    v.withColumn("m", element_at(typedLit(means.toSeq), col("j")))
      .select(col("j"), col("m"), col("v"), col("nrm"))
  }

  /** Persist-or-load the trained component (the IvfIndex
    * loadOrBuildSampled pattern verbatim): train-once / serve-many is the
    * production shape — the component is a d-row MODEL artifact, so every
    * consumer after the first pays a d-row parquet read instead of the
    * full Gram + power-iteration chain. Cache key = (source tag, corpus
    * count); like the ANN index cache, a code change to the trainer
    * invalidates by bumping nothing — wipe java.io.tmpdir artifacts when
    * iterating on the trainer itself (the oracle hash-gate catches a
    * stale component immediately: the replayed chain no longer matches). */
  private def loadOrBuildComponent(spark: SparkSession, e: DataFrame,
                                   srcTag: String): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(srcTag.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    // content-fingerprinted key + atomic publish (the IvfIndex contract)
    val (n, fp) = IvfIndex.corpusFingerprint(e, "vec_id", "embedding")
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-pca-comp-$digest-$n-$fp")
    IvfIndex.publishOnce(path) { tmp =>
      componentFrame(e).write.mode("overwrite").parquet(tmp)
    }
    spark.read.parquet(path.toString)
  }

  /** Cell-blocked top-3 kNN edge list (src, dst, c_raw UNROUNDED) — the
    * shared substrate of v_knn_graph / v_knn_graph_probe / v_knn_descent.
    * Blocking: sampled-seed IVF cells with nCells = ⌈√N⌉ (Σ n_c² ≈ N^1.5,
    * never corpus²); within-cell pairs score one hoisted-norm decimal
    * cosine each; top-3 per src through the two-phase TopKPerKey heap. */
  private def knnGraphEdges(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val nCells = math.ceil(math.sqrt(e.count().toDouble)).toInt
    val a = IvfIndex.assignSampled(e, "vec_id", "embedding", nCells)
      .withColumn("n2", Similarity.decNorm2(col("embedding")))
      .localCheckpoint() // consumed by both sides of the pair join
    cellTopkEdges(a).select("src", "dst", "c_raw")
  }

  /** Within-cell top-3 edges over a (cell, vec_id, embedding, n2)
    * assignment frame — the cell rides through as an output column so
    * incremental maintenance (v_knn_graph_append) can split the graph by
    * affected cell. Caller checkpoints the assignment. */
  private def cellTopkEdges(a: DataFrame): DataFrame = {
    val l = a.select(col("cell"), col("vec_id").as("src"),
      col("embedding").as("ea"), col("n2").as("na"))
    val r = a.select(col("cell"), col("vec_id").as("dst"),
      col("embedding").as("eb"), col("n2").as("nb"))
    val scored = l.join(r, Seq("cell")).filter(col("src") =!= col("dst"))
      .select(col("cell"), col("src"), col("dst"),
        Similarity.cosineFromParts(
          Similarity.decDot(col("ea"), col("eb")),
          col("na"), col("nb")).as("c_raw"))
    org.apache.spark.sql.GraftPlanBridge.topKPerKey(scored,
      Seq("src"), Seq("c_raw" -> false, "dst" -> true), 3)
  }

  /** Mutual-kNN flag: one self-join of the k·N edge list on the reversed
    * key. `knn` must be checkpointed by the caller (consumed twice). */
  private def withMutual(knn: DataFrame): DataFrame =
    knn.join(
        knn.select(col("dst").as("src"), col("src").as("dst"),
          lit(1).as("m")),
        Seq("src", "dst"), "left")
      .select(col("src"), col("dst"), round(col("c_raw"), 6).as("cosine"),
        coalesce(col("m"), lit(0)).cast("int").as("mutual"))

  /** NN-Descent rounds over a (src, dst, c_raw) base graph: reverse-capped
    * symmetrization, two-hop candidate join, PER-ROUND RANDOM PROBES,
    * fresh decimal cosine, re-heap. The random probes are the crux: the
    * cell-blocked base graph is CELL-CLOSED (every edge stays inside one
    * IVF cell), so pure neighbor-of-neighbor expansion can never reach a
    * cross-cell true neighbor — measured: 0 of 1500 edges change without
    * them. The paper starts from a RANDOM graph for exactly this reason;
    * here each round hashes vectors into random ~8-vector buckets (a
    * round-salted md5 — deterministic, oracle-replayable) and adds the
    * within-bucket pairs (~3.5N rows/round) as cross-cell candidates,
    * which the next round's two-hop join then propagates. Each round
    * localCheckpoints its output (O(1) lineage in rounds). */
  private def nnDescent(e: DataFrame, base: DataFrame,
                        rounds: Int): DataFrame = {
    val nB = math.max(e.count() / 16L, 1L)
    var cur = base
    for (i <- 1 to rounds) cur = descentRound(e, cur, s"d$i", nB)
    cur
  }

  /** Per-round random-probe bucket assignment: round-salted md5 over the
    * corpus, modulo nB buckets — deterministic and oracle-replayable.
    * nB is a PARAMETER (not derived from e inside) so incremental
    * maintenance can freeze it at offline-build time: with a frozen
    * modulus an appended batch only perturbs the buckets it lands in,
    * whereas an N-derived modulus reshuffles every bucket on any append. */
  private def descentBuckets(e: DataFrame, salt: String, nB: Long): DataFrame =
    e.select(col("vec_id"),
      (conv(substring(md5(concat(col("vec_id").cast("string"),
        lit(salt))), 1, 12), 16, 10).cast("long") % nB).as("bk"))

  /** One NN-Descent round: reverse-capped symmetrization, two-hop
    * candidate join, round-salted random probes, fresh decimal cosine,
    * re-heap. Candidate dedup is folded INTO the scoring re-heap
    * (topKPerKeyDistinct — the q_kmv_reagg move): the former
    * `cand.distinct()` was a full exchange of the O(N·k²) candidate
    * stream before any row was scored; now duplicate candidates score
    * redundantly map-side (bounded: the dup factor is ≤ the two-hop
    * multiplicity, ~k) and the ONLY exchange is the heaps' O(keys·k)
    * state. Semantics identical: equal (src,dst) pairs always score the
    * same c_raw (the decimal dot is deterministic), so in-heap dedup on
    * (key, order) = (src, (c_raw, dst)) drops exactly the duplicate rows
    * the old distinct dropped. Output localCheckpoints (O(1) lineage in
    * rounds; consumed by the next round's rev + sym + cand legs). */
  /** Reverse-capped symmetrization of a (src, dst, c_raw) graph: reverse
    * edges re-heaped to the top-3 per (new) src — the paper's ρ cap —
    * then unioned with the forward edges, distinct. Shared by the batch
    * round, the convergence round, and the incremental round's
    * base-vs-full sym diff. */
  private def symEdges(cur: DataFrame): DataFrame = {
    val rev = org.apache.spark.sql.GraftPlanBridge.topKPerKey(
      cur.select(col("dst").as("src"), col("src").as("dst"), col("c_raw")),
      Seq("src"), Seq("c_raw" -> false, "dst" -> true), 3)
    cur.select("src", "dst").union(rev.select("src", "dst")).distinct()
  }

  private def descentRound(e: DataFrame, cur: DataFrame, salt: String,
                           nB: Long): DataFrame = {
    val sym = symEdges(cur).localCheckpoint() // joined to itself below
    val rb = descentBuckets(e, salt, nB)
    val rp = rb.as("ra").join(rb.as("rb"), col("ra.bk") === col("rb.bk"))
      .filter(col("ra.vec_id") =!= col("rb.vec_id"))
      .select(col("ra.vec_id").as("src"), col("rb.vec_id").as("dst"))
    val cand = sym.as("x").join(sym.as("y"), col("x.dst") === col("y.src"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
      .union(cur.select("src", "dst"))
      .union(rp)
      .filter(col("src") =!= col("dst"))
    org.apache.spark.sql.GraftPlanBridge.topKPerKeyDistinct(
        scoreCandidates(e, cand),
        Seq("src"), Seq("c_raw" -> false, "dst" -> true), 3)
      .localCheckpoint()
  }

  /** Fresh decimal-exact cosine for a (src, dst) candidate stream:
    * embeddings ride in on two key-equality joins against hoisted norms. */
  private def scoreCandidates(e: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(e.select(col("vec_id").as("src"),
        col("embedding").as("ea"), col("n2").as("na")), "src")
      .join(e.select(col("vec_id").as("dst"),
        col("embedding").as("eb"), col("n2").as("nb")), "dst")
      .select(col("src"), col("dst"),
        Similarity.cosineFromParts(
          Similarity.decDot(col("ea"), col("eb")),
          col("na"), col("nb")).as("c_raw"))

  /** Convergence-terminated NN-Descent (the paper's own stopping rule:
    * stop when a round's update count falls below δ·N·k — Dong et al.
    * WWW'11 §2.3): after each round, the CHANGED-EDGE count (new edges
    * not present in the previous round's graph) is a pure-integer test,
    * the kcorePeelConv idiom on the fifth iterative family. Returns the
    * graph of the stopping round and the 1-based round index at which the
    * threshold first held (= maxRounds when it never did). */
  private def nnDescentConv(e: DataFrame, base: DataFrame, maxRounds: Int,
                            nB: Long, thr: Long): (DataFrame, Int) = {
    var cur = base
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val next = descentRound(e, cur, s"d$round", nB)
      val changed = next.join(cur, Seq("src", "dst"), "left_anti").count()
      done = changed < thr
      cur = next
    }
    (cur, round)
  }

  /** Nodes whose edge set differs between two (src, dst, …) graphs:
    * symmetric difference on (src, dst), projected to a 1-column node
    * frame. Exact — no over-approximation — so incremental propagation
    * stays as tight as the data allows. */
  private def diffNodes(a: DataFrame, b: DataFrame): DataFrame =
    a.select("src", "dst")
      .join(b.select("src", "dst"), Seq("src", "dst"), "left_anti")
      .union(b.select("src", "dst")
        .join(a.select("src", "dst"), Seq("src", "dst"), "left_anti"))
      .select(col("src").as("node")).distinct()

  /** One INCREMENTALLY-MAINTAINED NN-Descent round (the v_knn_graph_append
    * idea one level up the lifecycle): given the full-corpus graph of the
    * previous round (`curFull`), the OFFLINE base-corpus artifacts for the
    * previous and current rounds (`curBase`, `baseNext` — what a
    * deployment has persisted), and the nodes whose previous-round output
    * differs between the two runs (`changedIn`), produce the full-corpus
    * graph of this round by RE-SCORING ONLY THE AFFECTED NODES and copying
    * every other node's edges verbatim from the offline artifact.
    *
    * The affected set is EXACT, derived from the round's dataflow: a
    * node's output depends only on its candidate set (pair scores are
    * fixed), and cand(u) = twoHop(sym(u), sym(·)) ∪ cur(u) ∪ probes(u).
    * So u must be recomputed iff
    *   (a) u's outgoing sym edges differ between runs (S — exact sym
    *       diff; covers both cur(u) changes and reverse-edge evictions
    *       INTO u, since rev is part of sym),
    *   (b) some two-hop middle node m ∈ dst(symFull(u)) has m ∈ S (for
    *       u ∉ S, symFull(u) = symBase(u), so the full-run first leg is
    *       also the base-run first leg),
    *   (c) u's probe bucket this round contains an appended vector (with
    *       the FROZEN modulus, old pairs persist and the only new probe
    *       pairs involve a new vector), or
    *   (d) u ∈ changedIn (the cur-edges candidate leg).
    * Returns (thisRoundFull, changedOut) where changedOut is the exact
    * node diff of this round's two runs — next round's changedIn. */
  private def descentRoundIncremental(
      e: DataFrame, newIds: DataFrame, salt: String, nB: Long,
      curFull: DataFrame, curBase: DataFrame, baseNext: DataFrame,
      changedIn: DataFrame): (DataFrame, DataFrame) = {
    val symF = symEdges(curFull).localCheckpoint()
    val symB = symEdges(curBase)
    val s = diffNodes(symF, symB) // (a): sym-changed nodes, exact
    val secondLeg = symF
      .join(s.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .select(col("src").as("node")) // (b)
    val rb = descentBuckets(e, salt, nB)
    val newBuckets = rb.join(newIds, Seq("vec_id"), "left_semi")
      .select("bk").distinct()
    val probeAffected = rb
      .join(broadcast(newBuckets), Seq("bk"), "left_semi")
      .select(col("vec_id").as("node")) // (c)
    val a = s.union(secondLeg).union(probeAffected).union(changedIn)
      .distinct().localCheckpoint()
    val aSrc = a.select(col("node").as("src"))
    // recompute candidates for src ∈ A only — the O(|A|·k²) stage that
    // replaces the offline run's O(N·k²); the linear sym/probe passes
    // above never score an embedding
    val twoHop = symF.join(aSrc, Seq("src"), "left_semi").as("x")
      .join(symF.as("y"), col("x.dst") === col("y.src"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
    val curA = curFull.join(aSrc, Seq("src"), "left_semi")
      .select("src", "dst")
    val rpA = rb.join(a.select(col("node").as("vec_id")), Seq("vec_id"),
        "left_semi").as("ra")
      .join(rb.as("rb"), col("ra.bk") === col("rb.bk"))
      .filter(col("ra.vec_id") =!= col("rb.vec_id"))
      .select(col("ra.vec_id").as("src"), col("rb.vec_id").as("dst"))
    val cand = twoHop.union(curA).union(rpA)
      .filter(col("src") =!= col("dst"))
    val recomputed = org.apache.spark.sql.GraftPlanBridge.topKPerKeyDistinct(
      scoreCandidates(e, cand),
      Seq("src"), Seq("c_raw" -> false, "dst" -> true), 3)
    val nextFull = baseNext.select("src", "dst", "c_raw")
      .join(aSrc, Seq("src"), "left_anti")
      .union(recomputed)
      .localCheckpoint()
    val changedOut = diffNodes(recomputed,
      baseNext.join(aSrc, Seq("src"), "left_semi")).localCheckpoint()
    (nextFull, changedOut)
  }

  /** Persisted kNN-graph index (the IvfIndex.loadOrBuildSampled lifecycle):
    * path keyed by source dir + corpus row count + content fingerprint
    * (IvfIndex.corpusFingerprint — a same-cardinality corpus change
    * rebuilds instead of serving stale), built once behind an atomic
    * rename, then served as a plain parquet scan. */
  private def knnGraphLoadOrBuild(s: SparkSession, dir: String): DataFrame = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val (n, fp) = IvfIndex.corpusFingerprint(emb(s, dir), "vec_id", "embedding")
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-knn-graph-$digest-$n-$fp")
    IvfIndex.publishOnce(path) { tmp =>
      val knn = knnGraphEdges(s, dir).localCheckpoint()
      withMutual(knn).write.mode("overwrite").parquet(tmp)
    }
    s.read.parquet(path.toString)
  }

  /** Offline descent artifacts for v_knn_descent_append: the BASE-corpus
    * cell-blocked graph (cell column retained for the affected-cell
    * split) plus the three offline descent-round graphs. Persisted once
    * per (dir, base-corpus content fingerprint, nCells, frozen probe
    * modulus) — the knnGraphLoadOrBuild contract: a deployment runs the
    * O(N·k²) offline descent as an indexing job, and the append path
    * only loads its artifacts; a same-cardinality corpus change rebuilds
    * (content fingerprint), concurrent builders resolve via the atomic
    * publishOnce rename. The multi-dataset artifact writes its own root
    * marker because each parquet sub-dir carries only its own. */
  private def descentOfflineLoadOrBuild(s: SparkSession, dir: String,
      eB: DataFrame, aB: DataFrame, nB: Long, nCells: Int)
      : (DataFrame, IndexedSeq[DataFrame]) = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val (n, fp) = IvfIndex.corpusFingerprint(eB, "vec_id", "embedding")
    val path = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-descent-base-$digest-$n-$fp-$nCells-$nB")
    IvfIndex.publishOnce(path) { tmp =>
      val b0 = cellTopkEdges(aB).localCheckpoint()
      b0.write.mode("overwrite")
        .parquet(new java.io.File(tmp, "base0").toString)
      var cur: DataFrame = b0.select("src", "dst", "c_raw")
      for (i <- 1 to 3) {
        cur = descentRound(eB, cur, s"d$i", nB)
        cur.select("src", "dst", "c_raw").write.mode("overwrite")
          .parquet(new java.io.File(tmp, s"r$i").toString)
      }
      new java.io.File(tmp, "_SUCCESS").createNewFile()
    }
    (s.read.parquet(new java.io.File(path, "base0").toString),
      (1 to 3).map(i =>
        s.read.parquet(new java.io.File(path, s"r$i").toString)))
  }

  /** Shared SQL fragment: exact decimal dot/norm accumulation per vec.
    * `sfx` disambiguates CTE names when two accumulations compose in one
    * oracle (v_recall_eval). */
  private def accumSql(src: String, sfx: String = ""): String =
    s"""u$sfx AS (SELECT vec_id, unnest(embedding) AS x, unnest(q.qe) AS y FROM $src, q),
       d$sfx AS (SELECT vec_id,
               CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
               CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS norm2
             FROM u$sfx GROUP BY 1),
       qn$sfx AS (SELECT CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS qnorm2
              FROM (SELECT unnest(qe) AS x FROM q))"""

  /** Full IVF replay: decimal-exact cos(vec, centroid) for every pair,
    * argmax assignment (ties → smallest cell, via max(struct(c, -cell))),
    * probe = 4 cells nearest the query (vec 0's own cc rows), exact rerank
    * over probed cells only. Shared by v_knn_ivf (per-run rebuild) and
    * v_knn_ivf_probe (persisted index) — the index IS the assignment, so
    * both produce the identical result. */
  private val ivfOracle: String =
    s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                 FROM embeddings WHERE vec_id < 16),
       pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
              FROM embeddings e CROSS JOIN seeds s),
       pd AS (SELECT vec_id, cell,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
              FROM pu GROUP BY 1, 2),
       cn AS (SELECT cell,
                CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
              FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
       cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
              FROM pd JOIN cn ON pd.cell = cn.cell),
       assigned AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                    FROM cc GROUP BY 1),
       probes AS (SELECT cell FROM cc WHERE vec_id = 0
                  ORDER BY c DESC, cell ASC LIMIT 4),
       cand_emb AS (SELECT e.vec_id, e.embedding FROM embeddings e
                    JOIN assigned a ON e.vec_id = a.vec_id
                    JOIN probes p ON a.cell = p.cell
                    WHERE e.vec_id <> 0),
       ${accumSql("cand_emb")}
       SELECT vec_id, round(dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12), 6) AS cosine
       FROM d, qn
       ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12) DESC, vec_id ASC LIMIT 10"""

  /** One shard's scatter leg for the v_knn_shards replay: shard = parity
    * `p` of vec_id, seeds = the shard's 16 lowest ids re-keyed DIV 2,
    * assignment/probe/rerank = the ivfOracle machinery suffixed `p`.
    * `qnq` (the query norm) is declared once by the caller. */
  private def shardOracle(p: Int): String =
    s"""seeds$p AS (SELECT CAST(vec_id // 2 AS INTEGER) AS cell, embedding AS ce
                 FROM embeddings WHERE vec_id < 32 AND vec_id % 2 = $p),
       pu$p AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
              FROM embeddings e CROSS JOIN seeds$p s WHERE e.vec_id % 2 = $p),
       pd$p AS (SELECT vec_id, cell,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
              FROM pu$p GROUP BY 1, 2),
       cn$p AS (SELECT cell,
                CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
              FROM (SELECT cell, unnest(ce) AS y FROM seeds$p) GROUP BY 1),
       cc$p AS (SELECT vec_id, pd$p.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
              FROM pd$p JOIN cn$p ON pd$p.cell = cn$p.cell),
       assigned$p AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                    FROM cc$p GROUP BY 1),
       qu$p AS (SELECT s.cell, unnest(q.qe) AS x, unnest(s.ce) AS y FROM q, seeds$p s),
       qd$p AS (SELECT cell,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS qdot
              FROM qu$p GROUP BY 1),
       probes$p AS (SELECT qd$p.cell FROM qd$p JOIN cn$p ON qd$p.cell = cn$p.cell, qnq
                  ORDER BY qdot/greatest(sqrt(qnq.qnorm2)*sqrt(cn$p.c2), 1e-12) DESC,
                           qd$p.cell ASC LIMIT 4),
       cand$p AS (SELECT e.vec_id, e.embedding FROM embeddings e
                    JOIN assigned$p a ON e.vec_id = a.vec_id
                    JOIN probes$p pr ON a.cell = pr.cell
                    WHERE e.vec_id <> 0),
       ${accumSql(s"cand$p", p.toString)},
       top$p AS (SELECT vec_id, dot/greatest(sqrt(norm2)*sqrt(qn$p.qnorm2), 1e-12) AS c
               FROM d$p, qn$p ORDER BY c DESC, vec_id ASC LIMIT 10)"""

  /** IVF-PQ replay: the v_knn_ivf assignment/probe CTEs (renamed ipu/ipd)
    * composed with the v_knn_pq encode/LUT CTEs; the ADC estimate is
    * restricted to vectors whose IVF cell is probed. Shared by v_knn_ivfpq
    * (per-call probed-only encode) and v_knn_ivfpq_probe (persisted
    * full-corpus code table) — encoding is per-vector independent, so both
    * produce the identical result. */
  private val ivfpqOracle: String =
    """WITH subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
       q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                 FROM embeddings WHERE vec_id < 16),
       ipu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
               FROM embeddings e CROSS JOIN seeds s),
       ipd AS (SELECT vec_id, cell,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
               FROM ipu GROUP BY 1, 2),
       cn AS (SELECT cell,
                CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
              FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
       cc AS (SELECT vec_id, ipd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
              FROM ipd JOIN cn ON ipd.cell = cn.cell),
       assigned AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                    FROM cc GROUP BY 1),
       probes AS (SELECT cell FROM cc WHERE vec_id = 0
                  ORDER BY c DESC, cell ASC LIMIT 4),
       cand AS (SELECT a.vec_id FROM assigned a JOIN probes p ON a.cell = p.cell),
       cb AS (SELECT CAST(vec_id AS INTEGER) AS code, sub,
                     embedding[sub*8+1 : sub*8+8] AS cv
              FROM embeddings, subs WHERE vec_id < 16),
       sl AS (SELECT vec_id AS vid, sub, embedding[sub*8+1 : sub*8+8] AS sv
              FROM embeddings, subs),
       pu AS (SELECT vid, sl.sub AS sub, code, unnest(sv) AS x, unnest(cv) AS y
              FROM sl JOIN cb ON sl.sub = cb.sub),
       pd AS (SELECT vid, sub, code,
                CAST(sum(CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                              (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                              AS DECIMAL(28,16))) AS DOUBLE) AS d
              FROM pu GROUP BY 1, 2, 3),
       enc AS (SELECT vid, sub, (min(struct_pack(d := d, c := code))).c AS code
               FROM pd GROUP BY 1, 2),
       qsl AS (SELECT sub, qe[sub*8+1 : sub*8+8] AS qv FROM q, subs),
       lu AS (SELECT cb.sub AS sub, code, unnest(cv) AS y, unnest(qv) AS x
              FROM cb JOIN qsl ON cb.sub = qsl.sub),
       lut AS (SELECT sub, code,
                 CAST(sum(CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                               (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                               AS DECIMAL(28,16))) AS DOUBLE) AS qd
               FROM lu GROUP BY 1, 2),
       est AS (SELECT vid, sum(CAST(qd AS DECIMAL(28,16))) AS est
               FROM enc JOIN lut USING (sub, code)
               WHERE vid <> 0 AND vid IN (SELECT vec_id FROM cand)
               GROUP BY 1)
       SELECT vid AS vec_id, round(CAST(est AS DOUBLE), 6) AS dist_est
       FROM est ORDER BY est ASC, vid ASC LIMIT 10"""

  /** Residual IVF-PQ replay: the ivfpqOracle assignment/probe CTEs, then
    * residuals (exact IEEE double subtraction vs the own-cell centroid),
    * a residual codebook from the first 16 rows, per-(vid,sub) argmin
    * encode, a PER-PROBED-CELL query-residual LUT, and the (cell, sub,
    * code)-joined ADC sum. */
  private val ivfpqResOracle: String =
    """WITH subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
       q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                 FROM embeddings WHERE vec_id < 16),
       ipu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
               FROM embeddings e CROSS JOIN seeds s),
       ipd AS (SELECT vec_id, cell,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
               FROM ipu GROUP BY 1, 2),
       cn AS (SELECT cell,
                CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
              FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
       cc AS (SELECT vec_id, ipd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
              FROM ipd JOIN cn ON ipd.cell = cn.cell),
       assigned AS MATERIALIZED (
         SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
         FROM cc GROUP BY 1),
       probes AS (SELECT cell FROM cc WHERE vec_id = 0
                  ORDER BY c DESC, cell ASC LIMIT 4),
       centsd AS (SELECT cell, list_transform(ce, y -> CAST(y AS DOUBLE)) AS cd
                  FROM seeds),
       res AS MATERIALIZED (
         SELECT a.vec_id AS vid, a.cell,
                list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(e.embedding[i] AS DOUBLE) - cd[i]) AS rv
         FROM assigned a JOIN probes p ON a.cell = p.cell
         JOIN embeddings e ON e.vec_id = a.vec_id
         JOIN centsd ON centsd.cell = a.cell),
       sres AS (SELECT a.vec_id,
                  list_transform(range(1, len(e.embedding) + 1),
                    i -> CAST(e.embedding[i] AS DOUBLE) - cd[i]) AS rv
                FROM assigned a JOIN embeddings e ON e.vec_id = a.vec_id
                JOIN centsd ON centsd.cell = a.cell
                WHERE a.vec_id < 16),
       cb AS MATERIALIZED (
         SELECT CAST(vec_id AS INTEGER) AS code, sub,
                rv[sub*8+1 : sub*8+8] AS cv
         FROM sres, subs),
       sl AS (SELECT vid, sub, rv[sub*8+1 : sub*8+8] AS sv FROM res, subs),
       pu AS (SELECT vid, sl.sub AS sub, code, unnest(sv) AS x, unnest(cv) AS y
              FROM sl JOIN cb ON sl.sub = cb.sub),
       pd AS (SELECT vid, sub, code,
                CAST(sum(CAST((x - y) * (x - y) AS DECIMAL(28,16))) AS DOUBLE) AS d
              FROM pu GROUP BY 1, 2, 3),
       enc AS (SELECT vid, sub, (min(struct_pack(d := d, c := code))).c AS code
               FROM pd GROUP BY 1, 2),
       qres AS (SELECT p.cell,
                  list_transform(range(1, len(q.qe) + 1),
                    i -> CAST(q.qe[i] AS DOUBLE) - cd[i]) AS qr
                FROM probes p JOIN centsd USING (cell), q),
       qsl AS (SELECT cell, sub, qr[sub*8+1 : sub*8+8] AS qv FROM qres, subs),
       lu AS (SELECT qsl.cell, cb.sub AS sub, code, unnest(cv) AS y, unnest(qv) AS x
              FROM cb JOIN qsl ON cb.sub = qsl.sub),
       lut AS (SELECT cell, sub, code,
                 CAST(sum(CAST((x - y) * (x - y) AS DECIMAL(28,16))) AS DOUBLE) AS qd
               FROM lu GROUP BY 1, 2, 3),
       est AS (SELECT e.vid, sum(CAST(l.qd AS DECIMAL(28,16))) AS est
               FROM enc e
               JOIN res v ON e.vid = v.vid
               JOIN lut l ON l.cell = v.cell AND l.sub = e.sub
                         AND l.code = e.code
               WHERE e.vid <> 0
               GROUP BY 1)
       SELECT vid AS vec_id, round(CAST(est AS DOUBLE), 6) AS dist_est
       FROM est ORDER BY est ASC, vid ASC LIMIT 10"""

  val queries: Seq[Query] = Seq(
    Query("v_knn_brute", (s, dir) =>
      Similarity.knnBrute(emb(s, dir), "vec_id", "embedding", queryId = 0L, k = 10), oracle =
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ${accumSql("embeddings")}
         SELECT vec_id, round(dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12), 6) AS cosine
         FROM d, qn WHERE vec_id <> 0
         ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12) DESC, vec_id ASC LIMIT 10"""),
    Query("v_knn_mrl", (s, dir) => {
      // Matryoshka-truncation retrieval (Kusupati et al., NeurIPS'22): MRL
      // embeddings pack a usable sub-embedding in their PREFIX, so serving
      // retrieves on the first d' dims (here 16 of 64 — 4× less scan I/O
      // and dot-product work, the same lever as int8 but on the dimension
      // axis) and evaluates against the full-dim answer. Output: the
      // truncated top-10 with a membership flag against the full-dim
      // top-10 — recall@10 IS sum(in_full_top10)/10, and the flag per row
      // hash-gates the entire candidate set, not just the count. Both
      // rankings order by the unrounded decimal-exact cosine (knnBrute),
      // so the k-boundary is engine-independent.
      val e = emb(s, dir)
      val mrl = Similarity.knnBrute(
          e.withColumn("embedding", slice(col("embedding"), 1, 16)),
          "vec_id", "embedding", queryId = 0L, k = 10)
        .withColumnRenamed("cosine", "cosine_mrl")
      val full = Similarity.knnBrute(e, "vec_id", "embedding",
        queryId = 0L, k = 10).select("vec_id")
      mrl.join(full.withColumn("hit", lit(1L)), Seq("vec_id"), "left")
        .select(col("vec_id"), col("cosine_mrl"),
          coalesce(col("hit"), lit(0L)).as("in_full_top10"))
    }, oracle =
      // two brute-force replays — one over embedding[1:16], one full-dim —
      // joined for the membership flag; both rank by the unrounded cosine
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ut AS (SELECT vec_id, unnest(embedding[1:16]) AS x, unnest(q.qe[1:16]) AS y
                FROM embeddings, q),
         dt AS (SELECT vec_id,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS norm2
                FROM ut GROUP BY 1),
         qt AS (SELECT CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS qnorm2
                FROM (SELECT unnest(qe[1:16]) AS x FROM q)),
         mrl AS (SELECT vec_id,
                   round(dot/greatest(sqrt(norm2)*sqrt(qt.qnorm2), 1e-12), 6) AS cosine_mrl
                 FROM dt, qt WHERE vec_id <> 0
                 ORDER BY dot/greatest(sqrt(norm2)*sqrt(qt.qnorm2), 1e-12) DESC,
                          vec_id ASC LIMIT 10),
         ${accumSql("embeddings")},
         fullk AS (SELECT vec_id FROM d, qn WHERE vec_id <> 0
                   ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12) DESC,
                            vec_id ASC LIMIT 10)
         SELECT m.vec_id, m.cosine_mrl,
                CAST(CASE WHEN f.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
                  AS in_full_top10
         FROM mrl m LEFT JOIN fullk f USING (vec_id)"""),
    Query("v_knn_binary", (s, dir) => {
      // Binary (sign-bit) quantization retrieval — the 1-bit end of the
      // compression ladder this inventory already walks (float32 →
      // v_quantize_int8 → v_knn_pq → here): code_i = [x_i > 0], Hamming
      // distance as the coarse score, exact decimal-cosine rerank of the
      // top-50 Hamming candidates. The production recipe behind
      // binary-embedding serving (Faiss binary indexes; sign-random-
      // projection LSH, Charikar STOC'02 — for unit-ish vectors Hamming
      // distance is a monotone proxy for angle): 64 dims pack into two
      // 32-bit words = 8 bytes/vector vs 256 for float32 — a 32× smaller
      // candidate scan whose xor+bit_count is a handful of ALU ops, fused
      // into whole-stage codegen (integer lambda folds, no shuffle). At
      // 100 TB the code column is the STORED candidate structure (the
      // IvfIndex persistence precedent applies verbatim) and full-precision
      // vectors are fetched only for the bounded rerank set. Determinism:
      // codes are integer folds of exact float sign tests, Hamming is an
      // integer (rank-50 boundary tie-breaks on vec_id — no last-ULP
      // hazard, unlike v_knn_refine's margined double boundary), and the
      // rerank orders by the unrounded decimal-exact cosine.
      val e = emb(s, dir)
      def word(lo: Int): Column = expr(
        s"""aggregate(transform(slice(embedding, $lo, 32),
              (x, i) -> IF(CAST(x AS DOUBLE) > 0D,
                           shiftleft(CAST(1 AS BIGINT), i),
                           CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (a, b) -> a + b)""")
      val codes = e.select(col("vec_id"), col("embedding"),
        word(1).as("c_lo"), word(33).as("c_hi"))
      // 1-row driver scalar (the knnBrute query-vector pattern)
      val qRow = codes.filter(col("vec_id") === 0L)
        .select("c_lo", "c_hi", "embedding").take(1).head
      val (qLo, qHi) = (qRow.getLong(0), qRow.getLong(1))
      val qVec: Seq[Float] = qRow.getSeq[Float](2)
      val cand = codes.filter(col("vec_id") =!= 0L)
        .select(col("vec_id"), col("embedding"),
          (bit_count(col("c_lo").bitwiseXOR(lit(qLo)))
            + bit_count(col("c_hi").bitwiseXOR(lit(qHi)))).cast("int")
            .as("hamming"))
        .orderBy(col("hamming").asc, col("vec_id").asc)
        .limit(50)
      cand.select(col("vec_id"), col("hamming"),
          Similarity.cosineToQuery(col("embedding"), qVec).as("c_raw"))
        .orderBy(col("c_raw").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("hamming"),
          round(col("c_raw"), 6).as("cosine"))
    }, oracle =
      // the identical two-word sign codes (generate_subscripts replays
      // Spark's 0-based transform index as 1-based i → bit (i-1); the
      // per-word sum of distinct powers of two equals the bitwise OR),
      // integer Hamming top-50, then the shared brute-force decimal rerank
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         bits AS (
           SELECT vec_id, w,
             CAST(sum(CASE WHEN CAST(x AS DOUBLE) > 0
                           THEN CAST(1 AS BIGINT) << (i - 1)
                           ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS code
           FROM (
             SELECT vec_id, 0 AS w, unnest(embedding[1:32]) AS x,
                    generate_subscripts(embedding[1:32], 1) AS i
             FROM embeddings
             UNION ALL
             SELECT vec_id, 1 AS w, unnest(embedding[33:64]) AS x,
                    generate_subscripts(embedding[33:64], 1) AS i
             FROM embeddings)
           GROUP BY 1, 2),
         codes AS (
           SELECT vec_id,
                  max(CASE WHEN w = 0 THEN code END) AS c_lo,
                  max(CASE WHEN w = 1 THEN code END) AS c_hi
           FROM bits GROUP BY 1),
         qc AS (SELECT c_lo AS q_lo, c_hi AS q_hi FROM codes WHERE vec_id = 0),
         cand AS (
           SELECT c.vec_id,
                  CAST(bit_count(xor(c.c_lo, qc.q_lo))
                     + bit_count(xor(c.c_hi, qc.q_hi)) AS INTEGER) AS hamming
           FROM codes c, qc WHERE c.vec_id <> 0
           ORDER BY hamming ASC, c.vec_id ASC LIMIT 50),
         ${accumSql("embeddings")}
         SELECT d.vec_id, cand.hamming,
                round(dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12), 6)
                  AS cosine
         FROM d JOIN cand ON d.vec_id = cand.vec_id, qn
         ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12) DESC,
                  d.vec_id ASC LIMIT 10"""),
    Query("v_pca", (s, dir) => {
      // top principal component by POWER ITERATION (Golub & Van Loan;
      // the PCA/whitening primitive an embedding pipeline runs before
      // indexing — decorrelate once, then every downstream dot product is
      // better-conditioned). Three stages, all hash-gated end to end:
      // (1) per-dimension means — one map-side-combined agg; the d-row
      //     mean vector is a MODEL-sized driver collect (the centroid
      //     class) so centering fuses into the scan as an array literal;
      // (2) the centered Gram/covariance matrix C = Σ (x−m)(x−m)ᵀ as ONE
      //     generator pass: a nested-lambda outer product explodes d²
      //     decimal products per row and partial aggregation absorbs them
      //     map-side — the only shuffle carries tasks·d² partials, never
      //     N·d² (the classic tree-aggregate shape, spelled relationally);
      // (3) 4 unrolled power-iteration rounds on the d²-row C frame:
      //     w = C·v (decimal-exact matvec), inf-norm normalize (the max
      //     rides a window over the d-row frame — no driver scalar); the
      //     normalizer converges to the dominant eigenvalue and ships as
      //     the eigval column. Determinism: means are decimal-sum/count
      //     doubles, centered products cast to DECIMAL(28,16) before
      //     summing (order-independent), each round's normalize is one
      //     IEEE divide of identical doubles — the oracle replays the
      //     identical unrolled chain.
      val (_, v) = topComponent(emb(s, dir))
      v.select(col("j").as("i"), round(col("v"), 9).as("loading"),
        round(col("nrm"), 6).as("eigval"))
    }, oracle =
      // the identical three stages unrolled: decimal-exact per-dimension
      // means, the centered Gram matrix via a vec_id self-join (the oracle
      // spells N·d² relationally where the engine uses one generator —
      // same decimal terms, same sums), then 4 matvec+inf-norm rounds
      s"""WITH ex0 AS (SELECT vec_id, embedding,
                unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings),
         ex AS MATERIALIZED (SELECT vec_id, i,
                CAST(embedding[i] AS DOUBLE) AS x FROM ex0),
         mn AS MATERIALIZED (
           SELECT i, CAST(sum(CAST(x AS DECIMAL(28,16))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS m
           FROM ex GROUP BY 1),
         cx AS MATERIALIZED (
           SELECT e.vec_id, e.i, e.x - m.m AS cx
           FROM ex e JOIN mn m USING (i)),
         cov AS MATERIALIZED (
           SELECT a.i AS i, b.i AS j,
                  CAST(sum(CAST(a.cx * b.cx AS DECIMAL(28,16))) AS DOUBLE)
                    AS c
           FROM cx a JOIN cx b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         v0 AS (SELECT DISTINCT i AS j, CAST(1.0 AS DOUBLE) AS v FROM cov),
         ${(1 to 4).map { r =>
           s"""w$r AS (SELECT c.i,
                  CAST(sum(CAST(c.c * v.v AS DECIMAL(28,16))) AS DOUBLE) AS w
                FROM cov c JOIN v${r - 1} v ON c.j = v.j GROUP BY 1),
         v$r AS MATERIALIZED (
           SELECT i AS j, w / max(abs(w)) OVER () AS v,
                  max(abs(w)) OVER () AS nrm
           FROM w$r)"""
         }.mkString(",\n         ")}
         SELECT j AS i, round(v, 9) AS loading, round(nrm, 6) AS eigval
         FROM v4"""),
    Query("v_abtt", (s, dir) => {
      // All-But-The-Top embedding post-processing (Mu & Viswanath,
      // ICLR'18 — public recipe): embeddings share a large common mean +
      // dominant direction that makes every cosine look alike; subtracting
      // the mean and projecting out the top principal component restores
      // isotropy and measurably improves retrieval. CONSUMES THE STORED
      // component (round-10: loadOrBuildComponent — the v_knn_ivf_probe
      // lifecycle applied to the PCA model): train-once / serve-many is
      // the deployment shape, so this query pays the d-row artifact read
      // + ONE corpus projection pass instead of re-running the whole
      // v_pca Gram + power-iteration chain per invocation (~12 s of
      // duplicated bench work). The hash gate is UNWEAKENED: the oracle
      // replays the FULL train+project chain, so a drifted or stale
      // stored component fails immediately — persist/reload provably
      // changes nothing. (means, component) are MODEL-sized driver
      // collects (d rows), so the per-vector projection — dot with the
      // component, centered norm, residual norm² = n² − dot²/|v|² — fuses
      // into the scan as array-literal lambdas: zero shuffles after the
      // component loads. Per-row decimal folds equal the oracle's group
      // sums exactly (the decDotHof/accumSql precedent).
      val e = emb(s, dir)
      // BOUNDED: d rows — the stored model, not data
      val vRows = loadOrBuildComponent(s, e, s"$dir/embeddings")
        .orderBy("j").collect()
      require(vRows.zipWithIndex.forall { case (r, k) => r.getInt(0) == k + 1 },
        "v_abtt: dimensions must be contiguous 1..d")
      val means: Array[Double] = vRows.map(_.getDouble(1))
      val vArr: Array[Double] = vRows.map(_.getDouble(2))
      def fold(term: String): String =
        s"""CAST(aggregate(transform(embedding, (x, k) -> CAST($term
             AS DECIMAL(28,16))), CAST(0 AS DECIMAL(28,16)),
             (a, t) -> CAST(a + t AS DECIMAL(28,16))) AS DOUBLE)"""
      e.withColumn("m_arr", typedLit(means.toSeq))
        .withColumn("v_arr", typedLit(vArr.toSeq))
        .withColumn("dot", expr(fold(
          "(CAST(x AS DOUBLE) - element_at(m_arr, k+1)) * element_at(v_arr, k+1)")))
        .withColumn("n2", expr(fold(
          """(CAST(x AS DOUBLE) - element_at(m_arr, k+1))
             * (CAST(x AS DOUBLE) - element_at(m_arr, k+1))""")))
        .withColumn("vn2", expr(fold(
          "element_at(v_arr, k+1) * element_at(v_arr, k+1)")))
        .select(col("vec_id"), round(col("dot"), 6).as("top_component"),
          round(col("n2") - col("dot") * col("dot") / col("vn2"), 6)
            .as("residual_norm2"))
    }, oracle =
      // the v_pca chain replayed, then the per-vector projection: dot of
      // the centered vector with the component, centered norm², and the
      // residual n² − dot²/|v|² — decimal group sums equal the engine's
      // per-row decimal folds exactly (associative-exact addition)
      s"""WITH ex0 AS (SELECT vec_id, embedding,
                unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings),
         ex AS MATERIALIZED (SELECT vec_id, i,
                CAST(embedding[i] AS DOUBLE) AS x FROM ex0),
         mn AS MATERIALIZED (
           SELECT i, CAST(sum(CAST(x AS DECIMAL(28,16))) AS DOUBLE)
                       / CAST(count(*) AS DOUBLE) AS m
           FROM ex GROUP BY 1),
         cx AS MATERIALIZED (
           SELECT e.vec_id, e.i, e.x - m.m AS cx
           FROM ex e JOIN mn m USING (i)),
         cov AS MATERIALIZED (
           SELECT a.i AS i, b.i AS j,
                  CAST(sum(CAST(a.cx * b.cx AS DECIMAL(28,16))) AS DOUBLE)
                    AS c
           FROM cx a JOIN cx b ON a.vec_id = b.vec_id GROUP BY 1, 2),
         v0 AS (SELECT DISTINCT i AS j, CAST(1.0 AS DOUBLE) AS v FROM cov),
         ${(1 to 4).map { r =>
           s"""w$r AS (SELECT c.i,
                  CAST(sum(CAST(c.c * v.v AS DECIMAL(28,16))) AS DOUBLE) AS w
                FROM cov c JOIN v${r - 1} v ON c.j = v.j GROUP BY 1),
         v$r AS MATERIALIZED (
           SELECT i AS j, w / max(abs(w)) OVER () AS v,
                  max(abs(w)) OVER () AS nrm
           FROM w$r)"""
         }.mkString(",\n         ")},
         vd AS (SELECT c.vec_id,
                  CAST(sum(CAST(c.cx * v.v AS DECIMAL(28,16))) AS DOUBLE)
                    AS dot,
                  CAST(sum(CAST(c.cx * c.cx AS DECIMAL(28,16))) AS DOUBLE)
                    AS n2
                FROM cx c JOIN v4 v ON c.i = v.j GROUP BY 1),
         vn AS (SELECT CAST(sum(CAST(v * v AS DECIMAL(28,16))) AS DOUBLE)
                  AS vn2 FROM v4)
         SELECT vec_id, round(dot, 6) AS top_component,
                round(n2 - dot*dot/vn2, 6) AS residual_norm2
         FROM vd, vn"""),
    Query("v_mmr", (s, dir) => {
      // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
      // SIGIR'98): greedily pick 8 results that trade query relevance
      // against redundancy with what's already picked — score(d) =
      // λ·cos(q,d) − λ·max_{s∈S} cos(d,s), λ = 0.5. THE diversity pass a
      // retrieval-augmented pipeline runs after ANN: near-duplicate hits
      // waste context tokens, so the marginal pick is worth more than the
      // raw top-k. Stage 1 (retrieval) is the corpus-sized work and reuses
      // the exact top-N contract (unrounded decimal cosine, vec_id
      // tie-break) — at scale it IS the IVF/PQ path; everything after is
      // bounded by SERVING constants (N=20 candidates, k=8 picks): the
      // N×N pair-cosine matrix computes distributedly off hoisted norms,
      // and the greedy loop takes k 1-row driver actions (the Lloyd
      // scalar class — the loop is inherently sequential, its state is
      // k ids, never data). Determinism: rel/sim are decimal-exact-cosine
      // doubles, the score is a fixed IEEE chain (step 1's empty-set
      // redundancy term is literally 0.0), max over ≤8 doubles is
      // order-independent, ties break on vec_id — the oracle unrolls the
      // identical 8 greedy steps.
      val e = emb(s, dir)
      val qv: Seq[Float] = e.filter(col("vec_id") === 0L)
        .select("embedding").take(1).head.getSeq[Float](0)
      val cand = e.filter(col("vec_id") =!= 0L)
        .select(col("vec_id"), col("embedding"),
          Similarity.cosineToQuery(col("embedding"), qv).as("rel"))
        .orderBy(col("rel").desc, col("vec_id").asc)
        .limit(20)
        .localCheckpoint()
      val pa = cand.select(col("vec_id").as("ka"), col("embedding").as("va"),
        Similarity.decNorm2(col("embedding")).as("na2"))
      val pb = cand.select(col("vec_id").as("kb"), col("embedding").as("vb"),
        Similarity.decNorm2(col("embedding")).as("nb2"))
      // 20-row × 20-row inequality join — bounded by the serving constant
      // N², never corpus-shaped (sanctioned in PlanAuditSpec)
      val psim = pa.join(pb, col("ka") =!= col("kb"))
        .select(col("ka"), col("kb"),
          Similarity.cosineFromParts(
            Similarity.decDot(col("va"), col("vb")),
            col("na2"), col("nb2")).as("sim"))
        .localCheckpoint()
      var picks = Vector.empty[(Int, Long, Double, Double)]
      for (step <- 1 to 8) {
        val selIds = picks.map(_._2)
        val scored =
          if (selIds.isEmpty) cand.select(col("vec_id"), col("rel"),
            (lit(0.5) * col("rel") - lit(0.5) * lit(0.0)).as("sc"))
          else cand.join(
              psim.filter(col("kb").isin(selIds: _*))
                .groupBy(col("ka").as("vec_id"))
                .agg(max(col("sim")).as("ms")),
              Seq("vec_id"))
            .filter(!col("vec_id").isin(selIds: _*))
            .select(col("vec_id"), col("rel"),
              (lit(0.5) * col("rel") - lit(0.5) * col("ms")).as("sc"))
        val r = scored.orderBy(col("sc").desc, col("vec_id").asc).take(1).head
        picks :+= ((step, r.getLong(0), r.getDouble(1), r.getDouble(2)))
      }
      import s.implicits._
      picks.toDF("step", "vec_id", "relevance", "mmr_score")
        .select(col("step"), col("vec_id"),
          round(col("relevance"), 6).as("relevance"),
          round(col("mmr_score"), 6).as("mmr_score"))
    }, oracle =
      // candidate top-20 by unrounded decimal cosine, the 20×19 pair-cosine
      // matrix, then 8 unrolled greedy steps: each picks the remaining
      // candidate maximizing 0.5·rel − 0.5·max-sim-to-selected (ties →
      // smallest vec_id) — the identical IEEE chain per step
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ${accumSql("embeddings")},
         cand AS MATERIALIZED (SELECT vec_id,
                    dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12) AS rel
                  FROM d, qn WHERE vec_id <> 0
                  ORDER BY rel DESC, vec_id ASC LIMIT 20),
         ce AS MATERIALIZED (SELECT c.vec_id, c.rel, e.embedding
                FROM cand c JOIN embeddings e USING (vec_id)),
         pu AS MATERIALIZED (SELECT a.vec_id AS ka, b.vec_id AS kb,
                       unnest(a.embedding) AS x, unnest(b.embedding) AS y
                FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
         pd AS MATERIALIZED (SELECT ka, kb,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE)
                    AS DECIMAL(28,16))) AS DOUBLE) AS dot
                FROM pu GROUP BY 1, 2),
         cn AS MATERIALIZED (SELECT vec_id,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE)
                    AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM (SELECT vec_id, unnest(embedding) AS x FROM ce)
                GROUP BY 1),
         psim AS MATERIALIZED (SELECT pd.ka, pd.kb,
                    pd.dot/greatest(sqrt(a.n2)*sqrt(b.n2), 1e-12) AS sim
                  FROM pd JOIN cn a ON pd.ka = a.vec_id
                          JOIN cn b ON pd.kb = b.vec_id),
         p1 AS MATERIALIZED (SELECT c.vec_id, c.rel,
                  CAST(0.5 AS DOUBLE)*c.rel
                    - CAST(0.5 AS DOUBLE)*CAST(0.0 AS DOUBLE) AS sc
                FROM cand c ORDER BY sc DESC, c.vec_id ASC LIMIT 1),
         sel1 AS MATERIALIZED (SELECT vec_id FROM p1),
         ${(2 to 8).map { i =>
           s"""p$i AS MATERIALIZED (SELECT c.vec_id, c.rel,
                  CAST(0.5 AS DOUBLE)*c.rel - CAST(0.5 AS DOUBLE)*m.ms AS sc
                FROM cand c JOIN (
                  SELECT ka AS vec_id, max(sim) AS ms FROM psim
                  WHERE kb IN (SELECT vec_id FROM sel${i - 1}) GROUP BY 1) m
                  USING (vec_id)
                WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
                ORDER BY sc DESC, c.vec_id ASC LIMIT 1),
         sel$i AS MATERIALIZED (SELECT vec_id FROM sel${i - 1}
                   UNION ALL SELECT vec_id FROM p$i)"""
         }.mkString(",\n         ")}
         ${(1 to 8).map(i =>
           s"""SELECT CAST($i AS INTEGER) AS step, vec_id,
                round(rel, 6) AS relevance, round(sc, 6) AS mmr_score
              FROM p$i""").mkString(" UNION ALL ")}"""),
    Query("v_knn_lsh", (s, dir) =>
      Similarity.knnLsh(emb(s, dir), "vec_id", "embedding", queryId = 0L, k = 10, nBits = 4), oracle =
      s"""WITH blocked AS (
           SELECT vec_id, embedding,
                  array_to_string(list_transform(generate_series(1, 4),
                    i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS block
           FROM embeddings),
         q AS (SELECT embedding AS qe, block AS qb FROM blocked WHERE vec_id = 0),
         cands AS (SELECT b.vec_id, b.embedding FROM blocked b, q WHERE b.block = q.qb),
         ${accumSql("cands")}
         SELECT vec_id, round(dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12), 6) AS cosine
         FROM d, qn WHERE vec_id <> 0
         ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12) DESC, vec_id ASC LIMIT 10"""),
    Query("v_neardup", (s, dir) =>
      Similarity.nearDupPairs(emb(s, dir), "vec_id", "embedding", nBits = 8, minCosine = 0.35), oracle =
      """WITH blocked AS (
           SELECT vec_id, embedding,
                  array_to_string(list_transform(generate_series(1, 8),
                    i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS block
           FROM embeddings),
         pr AS (SELECT a.vec_id AS va, b.vec_id AS vb, a.embedding AS ea, b.embedding AS eb
                FROM blocked a JOIN blocked b
                  ON a.block = b.block AND a.vec_id < b.vec_id),
         u AS (SELECT va, vb, unnest(ea) AS x, unnest(eb) AS y FROM pr),
         d AS (SELECT va, vb,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS na,
                 CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS nb
               FROM u GROUP BY 1, 2)
         SELECT va AS vec_a, vb AS vec_b,
                round(dot/greatest(sqrt(na)*sqrt(nb), 1e-12), 6) AS cosine
         FROM d WHERE dot/greatest(sqrt(na)*sqrt(nb), 1e-12) >= 0.35"""),
    Query("v_quantize_int8", (s, dir) =>
      // symmetric int8 scalar quantization of the embedding column — the
      // 4× embedding-store compression every 100 TB vector corpus applies
      // before indexing. Per vector: amax (exact float→double max-abs),
      // scale = amax/127, codes = floor(x/scale + 0.5) clamped to ±127
      // (floor(x+0.5) instead of round(): identical HALF-UP semantics in
      // both engines with no rounding-mode ambiguity), then the
      // reconstruction error (x − q·scale)² folded in index order. All
      // IEEE-deterministic, all codegen'd lambdas fused into the scan —
      // the whole quantize→reconstruct→evaluate loop is hash-gated.
      emb(s, dir)
        .withColumn("amax", expr(
          """aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                       CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, x))"""))
        .filter(col("amax") > 0.0)
        .withColumn("scale", col("amax") / 127.0)
        .withColumn("qarr", expr(
          """transform(embedding,
               x -> least(greatest(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5D)
                                        AS DOUBLE), -127.0D), 127.0D))"""))
        .withColumn("sq_err", expr(
          """aggregate(zip_with(transform(embedding, x -> CAST(x AS DOUBLE)),
                                qarr,
                                (x, q) -> (x - q * scale) * (x - q * scale)),
                       CAST(0.0 AS DOUBLE), (a, v) -> a + v)"""))
        .select(col("vec_id"), col("scale"),
          expr("size(filter(qarr, q -> abs(q) = 127.0D))").as("n_sat"),
          (col("sq_err") / size(col("embedding")).cast("double")).as("mse")), oracle =
      // the identical quantize→reconstruct→error chain: list_reduce folds
      // replay Spark's index-ordered aggregates (0.0-prepend seed is
      // IEEE-exact), floor(x/scale + 0.5) is the shared HALF-UP rounding,
      // and list_zip's unnamed struct is accessed positionally
      """WITH b AS (
           SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                    (a, x) -> greatest(a, x)) AS amax
           FROM embeddings),
         s AS (SELECT vec_id, embedding, amax / 127.0 AS scale
               FROM b WHERE amax > 0),
         qq AS (SELECT vec_id, embedding, scale,
                  list_transform(embedding,
                    x -> least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5),
                                        -127.0), 127.0)) AS qarr
                FROM s),
         e AS (SELECT vec_id, scale, qarr,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(list_zip(embedding, qarr),
                       p -> (CAST(p[1] AS DOUBLE) - p[2] * scale)
                          * (CAST(p[1] AS DOUBLE) - p[2] * scale))),
                   (a, v) -> a + v) AS sq_err,
                 len(embedding) AS dim
               FROM qq)
         SELECT vec_id, scale,
                CAST(len(list_filter(qarr, q -> abs(q) = 127.0)) AS INTEGER)
                  AS n_sat,
                sq_err / CAST(dim AS DOUBLE) AS mse
         FROM e"""),
    Query("v_semdedup", (s, dir) => {
      // SemDeDup (semantic dedup, Abbas et al. 2023 — public recipe):
      // cluster the corpus, then prune near-duplicates WITHIN clusters
      // only, keeping each dup-pair's smallest id. The cluster step reuses
      // the IVF sampled-centroid assignment (cells seeded by vec_ids
      // 0..15, decimal-exact argmax — the v_kmeans contract); the pair
      // step is a cell-keyed self-join, so the quadratic term is bounded
      // per cell (312 vectors/cell at sf0.1, never corpus²) — at 100 TB
      // `cell` is the bucketing column and each bucket dedups
      // independently. Two-phase verification like nearDupPairs: a
      // codegen'd double cosine prefilters with a 1e-9 margin, the
      // decimal-exact cosine decides. Output = surviving (vec_id, cell).
      // The assignment feeds THREE plan branches (both pair sides + the
      // anti-join base) — localCheckpoint computes the decimal argmax
      // once (9.9 → 5.4 s median at sf0.1; at scale this is the
      // materialized index table of v_knn_ivf_probe).
      val assigned = IvfIndex.assignSampled(emb(s, dir), "vec_id", "embedding", 16)
        .localCheckpoint()
      // per-side norms are one decimal dot per ROW; the pair phase then
      // pays one dot per surviving pair instead of three (identical
      // cosine doubles via cosineFromParts — hashes unchanged)
      val a = assigned.select(col("cell"), col("vec_id").as("ka"),
        col("embedding").as("va"),
        Similarity.decNorm2(col("embedding")).as("na2"))
      val b = assigned.select(col("cell").as("cb"), col("vec_id").as("kb"),
        col("embedding").as("vb"),
        Similarity.decNorm2(col("embedding")).as("nb2"))
      val losers = a.join(b, col("cell") === col("cb") && col("ka") < col("kb"))
        .filter(Similarity.cosineFast(col("va"), col("vb")) >= 0.35 - 1e-9)
        .filter(Similarity.cosineFromParts(
          Similarity.decDot(col("va"), col("vb")),
          col("na2"), col("nb2")) >= 0.35)
        .select(col("kb").as("loser")).distinct()
      assigned.join(losers, col("vec_id") === col("loser"), "left_anti")
        .select(col("vec_id"), col("cell"))
    }, oracle =
      // assignment CTEs identical to v_kmeans's replay, then the
      // within-cell pair join with the decimal-exact cosine and the
      // keep-smallest-id rule; MATERIALIZED where a CTE is referenced
      // more than once (the g_kcore inlining lesson)
      """WITH seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                        FROM embeddings WHERE vec_id < 16),
         pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
                FROM embeddings e CROSS JOIN seeds s),
         pd AS (SELECT vec_id, cell,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu GROUP BY 1, 2),
         cn AS (SELECT cell,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
         cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd JOIN cn ON pd.cell = cn.cell),
         assigned AS MATERIALIZED (
           SELECT vec_id, CAST(-((max(struct_pack(c := c, nc := -cell))).nc) AS INTEGER) AS cell
           FROM cc GROUP BY 1),
         pairs AS (SELECT a1.vec_id AS ka, a2.vec_id AS kb
                   FROM assigned a1 JOIN assigned a2
                     ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id),
         px AS (SELECT p.ka, p.kb, unnest(e1.embedding) AS x, unnest(e2.embedding) AS y
                FROM pairs p JOIN embeddings e1 ON e1.vec_id = p.ka
                             JOIN embeddings e2 ON e2.vec_id = p.kb),
         pc AS (SELECT ka, kb,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS na,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS nb
                FROM px GROUP BY 1, 2),
         losers AS (SELECT DISTINCT kb FROM pc
                    WHERE dot/greatest(sqrt(na)*sqrt(nb), 1e-12) >= 0.35)
         SELECT a.vec_id, a.cell FROM assigned a
         WHERE a.vec_id NOT IN (SELECT kb FROM losers)"""),
    Query("v_prototypicality", (s, dir) => {
      // prototypicality pruning (the SSL-prototypes recipe of Sorscher et
      // al. 2022, "Beyond neural scaling laws" — public): score every
      // vector by cosine to its cluster centroid, then DROP each cell's
      // most prototypical 20% (the easy/redundant examples; hard examples
      // survive). Centroid = the v_kmeans decimal-mean update collected
      // into one array per cell and broadcast back, so the per-row score
      // is a single decimal-exact cosine — no corpus explode in the scoring
      // pass, and at 100 TB the plan is one (cell,dim) rollup + one
      // broadcast join + one per-cell window over cell-bucketed data.
      // The cut index is integer arithmetic (ceil via (n+4) div 5), the
      // rank order (score desc, vec_id) is total — membership, rank, and
      // the score itself are all hash-gated.
      import org.apache.spark.sql.expressions.Window
      // assignment feeds two branches (centroid rollup + scoring join):
      // localCheckpoint computes the decimal argmax once
      val assigned = IvfIndex.assignSampled(emb(s, dir), "vec_id", "embedding", 16)
        .localCheckpoint()
      val memd = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
      val centd = memd.groupBy("cell", "pos")
        .agg((sum(col("x").cast("double").cast(DecimalType(28, 16))).cast("double")
          / count(lit(1))).as("m"))
      val centArr = centd.groupBy("cell")
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
          .as("carr"))
        .withColumn("cc2", Similarity.decNorm2(col("carr")))
      val w = Window.partitionBy("cell")
        .orderBy(col("proto_raw").desc, col("vec_id").asc)
      val wc = Window.partitionBy("cell")
      assigned.join(broadcast(centArr), "cell")
        .select(col("vec_id"), col("cell"),
          Similarity.cosineFromParts(
            Similarity.decDot(col("embedding"), col("carr")),
            Similarity.decNorm2(col("embedding")), col("cc2")).as("proto_raw"))
        .withColumn("rn", row_number().over(w))
        .withColumn("n_cell", count(lit(1)).over(wc))
        .filter(col("rn") > expr("(n_cell + 4) div 5"))
        .select(col("vec_id"), col("cell"), round(col("proto_raw"), 6).as("proto"))
    }, oracle =
      // assignment replay (the v_kmeans CTEs), per-(cell,pos) decimal
      // means, then the member-vs-own-centroid cosine via the joined
      // (cell,pos) products (only the assigned centroid — no cross join),
      // the per-cell rank, and the integer 20% cut. c2 (centroid
      // self-norm) comes from the same mean table, decimal-accumulated
      // like the engine's decDot.
      """WITH seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                        FROM embeddings WHERE vec_id < 16),
         pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
                FROM embeddings e CROSS JOIN seeds s),
         pd AS (SELECT vec_id, cell,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu GROUP BY 1, 2),
         cn AS (SELECT cell,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
         cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd JOIN cn ON pd.cell = cn.cell),
         assigned AS MATERIALIZED (
           SELECT vec_id, CAST(-((max(struct_pack(c := c, nc := -cell))).nc) AS INTEGER) AS cell
           FROM cc GROUP BY 1),
         memd AS MATERIALIZED (
           SELECT a.cell, e.vec_id, CAST(gs.i - 1 AS INTEGER) AS pos,
                  CAST(e.embedding[gs.i] AS DOUBLE) AS x
           FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs),
         centd AS MATERIALIZED (
           SELECT cell, pos,
                  CAST(sum(CAST(x AS DECIMAL(28,16))) AS DOUBLE) / count(*) AS m
           FROM memd GROUP BY 1, 2),
         acc AS (SELECT md.vec_id, md.cell,
                   CAST(sum(CAST(md.x * cd.m AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                   CAST(sum(CAST(md.x * md.x AS DECIMAL(28,16))) AS DOUBLE) AS n2
                 FROM memd md JOIN centd cd
                   ON md.cell = cd.cell AND md.pos = cd.pos
                 GROUP BY 1, 2),
         cnorm AS (SELECT cell,
                     CAST(sum(CAST(m * m AS DECIMAL(28,16))) AS DOUBLE) AS c2
                   FROM centd GROUP BY 1),
         scored AS (SELECT acc.vec_id, acc.cell,
                      dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS proto_raw
                    FROM acc JOIN cnorm ON acc.cell = cnorm.cell),
         ranked AS (SELECT vec_id, cell, proto_raw,
                      row_number() OVER (PARTITION BY cell
                        ORDER BY proto_raw DESC, vec_id ASC) AS rn,
                      count(*) OVER (PARTITION BY cell) AS n_cell
                    FROM scored)
         SELECT vec_id, cell, round(proto_raw, 6) AS proto
         FROM ranked WHERE rn > (n_cell + 4) // 5"""),
    Query("v_centroid_drift", (s, dir) => {
      // embedding DRIFT monitor: the corpus's two halves (vec_id parity —
      // the deterministic stand-in for adjacent ingestion windows) assign
      // to the SAME fixed cells, each half rolls up per-(cell,dim)
      // decimal-mean centroids, and the per-cell drift score is the
      // decimal-exact cosine between the two half-centroids — cells whose
      // score drops signal a shifted embedding distribution before it
      // poisons dedup thresholds or ANN recall. At 100 TB: two
      // (cell,dim)-keyed partial aggregates over one assignment pass,
      // then cell-count arithmetic; the monitor costs one corpus scan.
      val assigned = IvfIndex.assignSampled(emb(s, dir), "vec_id", "embedding", 16)
        .localCheckpoint()
      def half(par: Int): DataFrame = assigned
        .filter(pmod(col("vec_id"), lit(2)) === par)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg((sum(col("x").cast("double").cast(DecimalType(28, 16))).cast("double")
          / count(lit(1))).as(s"m$par"), count(lit(1)).as(s"n$par"))
      half(0).join(half(1), Seq("cell", "pos"))
        .groupBy("cell")
        .agg(
          Similarity.decDotCols(col("m0"), col("m1")).as("dot"),
          Similarity.decDotCols(col("m0"), col("m0")).as("na"),
          Similarity.decDotCols(col("m1"), col("m1")).as("nb"),
          max(col("n0")).as("n_old"), max(col("n1")).as("n_new"))
        .select(col("cell"), col("n_old"), col("n_new"),
          round(col("dot") / greatest(sqrt(col("na")) * sqrt(col("nb")),
            lit(1e-12)), 6).as("drift_cos"))
    }, oracle =
      // assignment replay, then per-half per-(cell,pos) decimal means and
      // the decimal-accumulated cosine between the half-centroids
      """WITH seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                        FROM embeddings WHERE vec_id < 16),
         pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
                FROM embeddings e CROSS JOIN seeds s),
         pd AS (SELECT vec_id, cell,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu GROUP BY 1, 2),
         cn AS (SELECT cell,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
         cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd JOIN cn ON pd.cell = cn.cell),
         assigned AS MATERIALIZED (
           SELECT vec_id, CAST(-((max(struct_pack(c := c, nc := -cell))).nc) AS INTEGER) AS cell
           FROM cc GROUP BY 1),
         memd AS MATERIALIZED (
           SELECT a.vec_id, a.cell, CAST(gs.i - 1 AS INTEGER) AS pos,
                  CAST(e.embedding[gs.i] AS DOUBLE) AS x
           FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs),
         h0 AS (SELECT cell, pos,
                  CAST(sum(CAST(x AS DECIMAL(28,16))) AS DOUBLE) / count(*) AS m0,
                  count(*) AS n0
                FROM memd WHERE vec_id % 2 = 0 GROUP BY 1, 2),
         h1 AS (SELECT cell, pos,
                  CAST(sum(CAST(x AS DECIMAL(28,16))) AS DOUBLE) / count(*) AS m1,
                  count(*) AS n1
                FROM memd WHERE vec_id % 2 = 1 GROUP BY 1, 2),
         j AS (SELECT h0.cell, h0.pos, m0, m1, n0, n1
               FROM h0 JOIN h1 ON h0.cell = h1.cell AND h0.pos = h1.pos),
         a AS (SELECT cell,
                 CAST(sum(CAST(m0 * m1 AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                 CAST(sum(CAST(m0 * m0 AS DECIMAL(28,16))) AS DOUBLE) AS na,
                 CAST(sum(CAST(m1 * m1 AS DECIMAL(28,16))) AS DOUBLE) AS nb,
                 CAST(max(n0) AS BIGINT) AS n_old,
                 CAST(max(n1) AS BIGINT) AS n_new
               FROM j GROUP BY 1)
         SELECT cell, n_old, n_new,
                round(dot / greatest(sqrt(na) * sqrt(nb), 1e-12), 6)
                  AS drift_cos
         FROM a"""),
    Query("v_knn_refine", (s, dir) => {
      // two-stage quantized retrieval — the production serving pattern
      // that v_quantize_int8 exists for: the corpus is scored COARSELY
      // against the full-precision query through its int8 reconstruction
      // (cheap double arithmetic; at 100 TB the int8 corpus is 4× less
      // I/O and the reconstruct+score fuses into the scan), a 5×
      // overfetch (top-50) survives, and the exact decimal cosine reranks
      // only the survivors to the final top-10. Both stage boundaries
      // order by (score desc, vec_id) — total orders, so candidate set,
      // rerank, and output are all hash-gated.
      val e = emb(s, dir)
      val qRows = e.filter(col("vec_id") === 0L).select(col("embedding")).take(1)
      require(qRows.nonEmpty, "query vector vec_id=0 not found")
      val qv: Seq[Float] = qRows.head.getSeq[Float](0)
      val recon = e.filter(col("vec_id") =!= 0L)
        .withColumn("amax", expr(
          """aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                       CAST(0.0 AS DOUBLE), (a, x) -> greatest(a, x))"""))
        .filter(col("amax") > 0.0)
        .withColumn("scale", col("amax") / 127.0)
        .withColumn("recon", expr(
          """transform(embedding,
               x -> least(greatest(CAST(floor(CAST(x AS DOUBLE) / scale + 0.5D)
                                        AS DOUBLE), -127.0D), 127.0D) * scale)"""))
      // margined stage boundary: rather than a hard LIMIT 50 on the coarse
      // score (which would make the candidate set — and so potentially the
      // hash-gated top-10 — sensitive to a last-ULP tie exactly at rank
      // 50), take the 50th score and admit EVERY candidate within 1e-9 of
      // it. Near-ties at the boundary all reach the exact decimal rerank,
      // which then decides under the full contract; the margin costs at
      // most a handful of extra rerank rows. The coarse score is computed
      // ONCE behind a localCheckpoint (round-10: deriving s50 and then
      // filtering against it re-ran the whole reconstruct+score pass —
      // quiet med 1.90 s; checkpointed 0.4 s) and the checkpoint carries
      // only (vec_id, coarse) — 16 bytes/row, never the embeddings — so
      // at 100 TB the materialization is id-sized; survivors (~50 rows)
      // join back to the corpus by vec_id for the exact decimal rerank.
      val scored = recon
        .select(col("vec_id"),
          Similarity.cosineFast(col("recon"), typedLit(qv)).as("coarse"))
        .localCheckpoint()
      val s50 = scored.orderBy(col("coarse").desc, col("vec_id").asc)
        .limit(50).agg(min(col("coarse")).as("s50"))
      val survivors = scored.crossJoin(broadcast(s50))
        .filter(col("coarse") >= col("s50") - 1e-9)
        .select(col("vec_id"))
      e.join(broadcast(survivors), Seq("vec_id"), "left_semi")
        .select(col("vec_id"),
          Similarity.cosineToQuery(col("embedding"), qv).as("c_raw"))
        .orderBy(col("c_raw").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("c_raw"), 6).as("cosine"))
    }, oracle =
      // both stages replayed: the int8 quantize→reconstruct chain, the
      // index-ordered double coarse fold (0.0-prepend seed), the top-50
      // cut on (coarse desc, vec_id), then the decimal-exact rerank via
      // zipped unnest over only the survivors
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         b AS (SELECT vec_id, embedding,
                 list_reduce(list_prepend(CAST(0 AS DOUBLE),
                     list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                   (a, x) -> greatest(a, x)) AS amax
               FROM embeddings WHERE vec_id <> 0),
         s AS (SELECT vec_id, embedding, amax / 127.0 AS scale
               FROM b WHERE amax > 0),
         r AS (SELECT vec_id, embedding,
                 list_transform(embedding,
                   x -> least(greatest(floor(CAST(x AS DOUBLE) / scale + 0.5),
                                       -127.0), 127.0) * scale) AS recon
               FROM s),
         co AS (SELECT vec_id, embedding,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(list_zip(recon, qe),
                        p -> p[1] * CAST(p[2] AS DOUBLE))),
                    (a, v) -> a + v) AS dot,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(recon, x -> x * x)),
                    (a, v) -> a + v) AS na,
                  list_reduce(list_prepend(CAST(0 AS DOUBLE),
                      list_transform(qe,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                    (a, v) -> a + v) AS nb
                FROM r, q),
         sc AS (SELECT vec_id, embedding,
                  dot / greatest(sqrt(na) * sqrt(nb), 1e-12) AS coarse
                FROM co),
         s50 AS (SELECT min(coarse) AS s50 FROM
                 (SELECT coarse FROM sc
                  ORDER BY coarse DESC, vec_id ASC LIMIT 50)),
         top50 AS (SELECT vec_id, embedding FROM sc, s50
                   WHERE coarse >= s50 - 1e-9),
         px AS (SELECT t.vec_id, unnest(t.embedding) AS x, unnest(q.qe) AS y
                FROM top50 t, q),
         pc AS (SELECT vec_id,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS na
                FROM px GROUP BY 1),
         qn AS (SELECT CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS nb
                FROM (SELECT unnest(qe) AS y FROM q))
         SELECT vec_id,
                round(dot / greatest(sqrt(pc.na) * sqrt(qn.nb), 1e-12), 6)
                  AS cosine
         FROM pc, qn
         ORDER BY dot / greatest(sqrt(pc.na) * sqrt(qn.nb), 1e-12) DESC,
                  vec_id ASC LIMIT 10"""),
    Query("v_knn_native", (s, dir) => {
      // throughput path: the codegen'd FloatCosine expression. Plain double
      // accumulation, but the loop order is fixed (index order), so the
      // oracle replays the identical IEEE sequence via list_reduce and the
      // result is still bit-checked. Same top-k shape, fused scoring loop.
      FloatCosine.register(s)
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") === 0L).select("embedding").first().getSeq[Float](0)
      e.filter(col("vec_id") =!= 0L)
        .select(col("vec_id"), FloatCosine(col("embedding"), typedLit(q)).as("c_raw"))
        .orderBy(col("c_raw").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("c_raw"), 6).as("cosine"))
    }, oracle =
      // FloatCosine accumulates dot/norms left-to-right in index order;
      // list_reduce replays the same IEEE addition sequence (its
      // first-element seed equals the 0.0 seed exactly: 0.0 + x = x), so
      // the doubles — and therefore the rounded cosines and the top-k
      // boundary — are bit-identical without decimal accumulation
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         d AS (
           SELECT vec_id,
                  list_reduce(list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b) AS dot,
                  list_reduce(list_transform(range(1, len(embedding) + 1),
                    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)), (a, b) -> a + b) AS na,
                  list_reduce(list_transform(range(1, len(qe) + 1),
                    i -> CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)), (a, b) -> a + b) AS nb
           FROM embeddings, q WHERE vec_id <> 0)
         SELECT vec_id, round(dot / greatest(sqrt(na) * sqrt(nb), 1e-12), 6) AS cosine
         FROM d
         ORDER BY dot / greatest(sqrt(na) * sqrt(nb), 1e-12) DESC, vec_id ASC LIMIT 10"""),
    Query("v_knn_ivf", (s, dir) =>
      // IVF scale path, sampled-centroid construction (Faiss niter=0):
      // cells seeded by vec_ids 0..15, probe the 4 nearest. Fully
      // relational → the oracle replays assignment, probe selection, and
      // rerank bit-for-bit (a REAL hash gate, unlike the trained-KMeans
      // variant, which is spec-gated in OperatorsSpec because k-means
      // training is not SQL-expressible).
      IvfIndex.knnSampled(emb(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10, nCells = 16, nprobe = 4), oracle = ivfOracle),
    Query("v_knn_pq", (s, dir) =>
      // product-quantization ADC path: 8 subspaces x 16 sampled codewords
      // (vec_ids 0..15, Faiss niter=0 construction) — encode, LUT, and the
      // asymmetric-distance top-k all replayed bit-for-bit by the oracle
      PqIndex.knnPq(emb(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10, m = 8, nCodes = 16), oracle =
      // full PQ replay: per-subspace codebooks from vec_ids 0..15, encode =
      // argmin decimal squared-L2 (ties → smallest code via min(struct)),
      // ADC = decimal sum of the per-subspace query↔codeword distances
      """WITH subs AS (SELECT unnest(generate_series(0, 7)) AS sub),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         cb AS (SELECT CAST(vec_id AS INTEGER) AS code, sub,
                       embedding[sub*8+1 : sub*8+8] AS cv
                FROM embeddings, subs WHERE vec_id < 16),
         sl AS (SELECT vec_id AS vid, sub, embedding[sub*8+1 : sub*8+8] AS sv
                FROM embeddings, subs),
         pu AS (SELECT vid, sl.sub AS sub, code, unnest(sv) AS x, unnest(cv) AS y
                FROM sl JOIN cb ON sl.sub = cb.sub),
         pd AS (SELECT vid, sub, code,
                  CAST(sum(CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                                (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                                AS DECIMAL(28,16))) AS DOUBLE) AS d
                FROM pu GROUP BY 1, 2, 3),
         enc AS (SELECT vid, sub, (min(struct_pack(d := d, c := code))).c AS code
                 FROM pd GROUP BY 1, 2),
         qsl AS (SELECT sub, qe[sub*8+1 : sub*8+8] AS qv FROM q, subs),
         lu AS (SELECT cb.sub AS sub, code, unnest(cv) AS y, unnest(qv) AS x
                FROM cb JOIN qsl ON cb.sub = qsl.sub),
         lut AS (SELECT sub, code,
                   CAST(sum(CAST((CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) *
                                 (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))
                                 AS DECIMAL(28,16))) AS DOUBLE) AS qd
                 FROM lu GROUP BY 1, 2),
         est AS (SELECT vid, sum(CAST(qd AS DECIMAL(28,16))) AS est
                 FROM enc JOIN lut USING (sub, code)
                 WHERE vid <> 0 GROUP BY 1)
         SELECT vid AS vec_id, round(CAST(est AS DOUBLE), 6) AS dist_est
         FROM est ORDER BY est ASC, vid ASC LIMIT 10"""),
    Query("v_knn_ivfpq", (s, dir) =>
      // the production composition: IVF prunes WHICH vectors get scored
      // (4 of 16 cells), PQ ADC compresses HOW (m-byte codes + LUT)
      PqIndex.knnIvfPq(emb(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10, nCells = 16, nprobe = 4, m = 8, nCodes = 16), oracle = ivfpqOracle),
    Query("v_knn_ivfpq_res", (s, dir) =>
      // RESIDUAL encoding — what production IVF-PQ (Faiss IVFADC)
      // actually quantizes: x − centroid(cell), so the codebook budget
      // spends on what the coarse quantizer has not explained; the ADC
      // LUT becomes per-probed-cell (nprobe·m·nCodes broadcast rows,
      // still serving constants). Full chain oracle-replayed: assign →
      // residual → codebook → encode → per-cell LUT → ADC top-10.
      PqIndex.knnIvfPqResidual(emb(s, dir), "vec_id", "embedding",
        queryId = 0L, k = 10, nCells = 16, nprobe = 4, m = 8, nCodes = 16), oracle = ivfpqResOracle),
    Query("v_recall_nprobe", (s, dir) => {
      // ANN TUNING SWEEP (the d_threshold_sweep theme on the index side):
      // recall@10 of the sampled-centroid IVF probe at nprobe = 1 / 2 / 4
      // against the exact brute top-10, in ONE plan — the curve an index
      // rollout reads to pick its latency/recall operating point. The
      // expensive pieces are shared: assignment runs ONCE behind a
      // localCheckpoint, the query's cell ranking is a 16-row frame, and
      // each operating point pays only a probed-subset rerank (nprobe/16
      // of the corpus). Recall numbers for all three points hash-gate.
      val e = emb(s, dir)
      val qRows = e.filter(col("vec_id") === 0L).select(col("embedding")).take(1)
      require(qRows.nonEmpty, "query vector vec_id=0 not found")
      val qv: Seq[Float] = qRows.head.getSeq[Float](0)
      val brute = Similarity.knnBrute(e, "vec_id", "embedding",
        queryId = 0L, k = 10).select(col("vec_id")).localCheckpoint()
      val assigned = IvfIndex.assignSampled(e, "vec_id", "embedding", 16)
        .localCheckpoint()
      val qcells = e.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell"), col("embedding").as("ce"))
        .select(col("cell"), Similarity.cosineToQuery(col("ce"), qv).as("c"))
        .withColumn("pr", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("cell").asc)))
        .select("cell", "pr").localCheckpoint()
      def recallAt(np: Int): DataFrame = {
        val top = assigned
          .join(broadcast(qcells.filter(col("pr") <= np)), "cell")
          .filter(col("vec_id") =!= 0L)
          .select(col("vec_id"),
            Similarity.cosineToQuery(col("embedding"), qv).as("c_raw"))
          .orderBy(col("c_raw").desc, col("vec_id").asc)
          .limit(10)
        brute.join(top.select(col("vec_id").as("iv")),
            col("vec_id") === col("iv"), "left_semi")
          .agg(count(lit(1)).as("n_common"))
          .select(lit(np).as("nprobe"), col("n_common"),
            round(col("n_common").cast("double") / 10.0, 6).as("recall_at_10"))
      }
      recallAt(1).union(recallAt(2)).union(recallAt(4))
    }, oracle =
      // shared assignment + query cell ranking, then one probed-subset
      // rerank and one brute-vs-probe recall row per operating point
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                   FROM embeddings WHERE vec_id < 16),
         pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
                FROM embeddings e CROSS JOIN seeds s),
         pd AS (SELECT vec_id, cell,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu GROUP BY 1, 2),
         cn AS (SELECT cell,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
         cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd JOIN cn ON pd.cell = cn.cell),
         assigned AS MATERIALIZED (
           SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
           FROM cc GROUP BY 1),
         qcell AS MATERIALIZED (
           SELECT cell, row_number() OVER (ORDER BY c DESC, cell ASC) AS pr
           FROM cc WHERE vec_id = 0),
         ${accumSql("embeddings", "b")},
         brute AS MATERIALIZED (
           SELECT vec_id FROM db, qnb WHERE vec_id <> 0
           ORDER BY dot/greatest(sqrt(norm2)*sqrt(qnb.qnorm2), 1e-12) DESC,
                    vec_id ASC LIMIT 10),
         ${Seq(1, 2, 4).map { np =>
           s"""cand$np AS (SELECT e.vec_id, e.embedding FROM embeddings e
                  JOIN assigned a ON e.vec_id = a.vec_id
                  JOIN qcell p ON a.cell = p.cell AND p.pr <= $np
                  WHERE e.vec_id <> 0),
         ${accumSql(s"cand$np", s"p$np")},
         ivf$np AS (SELECT vec_id FROM dp$np, qnp$np
                    ORDER BY dot/greatest(sqrt(norm2)*sqrt(qnp$np.qnorm2), 1e-12) DESC,
                             vec_id ASC LIMIT 10),
         r$np AS (SELECT $np AS nprobe, count(*) AS n_common FROM brute
                  WHERE vec_id IN (SELECT vec_id FROM ivf$np))"""
         }.mkString(",\n         ")}
         SELECT CAST(nprobe AS INTEGER) AS nprobe,
                CAST(n_common AS BIGINT) AS n_common,
                round(CAST(n_common AS DOUBLE)/10.0, 6) AS recall_at_10
         FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
               UNION ALL SELECT * FROM r4)"""),
    Query("v_recall_eval", (s, dir) => {
      // ANN evaluation as a first-class query: recall@10 of the sign-block
      // LSH path against the exact brute-force top-10, in ONE plan — the
      // acceptance gate a production index rollout runs per corpus slice.
      // Both candidate top-k frames are 10 rows after their limits, so the
      // semi join and the closing aggregate are driver-trivial; the cost
      // profile is exactly one brute pass + one blocked pass. Hash-gated:
      // the recall NUMBER itself is the contract, not a spot check.
      val e = emb(s, dir)
      val brute = Similarity.knnBrute(e, "vec_id", "embedding",
        queryId = 0L, k = 10).select(col("vec_id"))
      val lsh = Similarity.knnLsh(e, "vec_id", "embedding",
        queryId = 0L, k = 10, nBits = 4).select(col("vec_id").as("lv"))
      brute.join(lsh, col("vec_id") === col("lv"), "left_semi")
        .agg(count(lit(1)).as("n_common"))
        .select(col("n_common"),
          round(col("n_common").cast("double") / lit(10.0), 6)
            .as("recall_at_10"))
    }, oracle =
      // both top-10 replays composed (suffix-renamed accumulations), then
      // the semi-join count — identical to the engine's recall number
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ${accumSql("embeddings", "1")},
         brute AS (SELECT vec_id FROM d1, qn1 WHERE vec_id <> 0
                   ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn1.qnorm2), 1e-12) DESC,
                            vec_id ASC LIMIT 10),
         blocked AS (
           SELECT vec_id, embedding,
                  array_to_string(list_transform(generate_series(1, 4),
                    i -> CASE WHEN embedding[i] >= 0 THEN '1' ELSE '0' END), '') AS block
           FROM embeddings),
         qb AS (SELECT block AS qblock FROM blocked WHERE vec_id = 0),
         cands AS (SELECT b.vec_id, b.embedding FROM blocked b, qb
                   WHERE b.block = qb.qblock),
         ${accumSql("cands", "2")},
         lsh AS (SELECT vec_id FROM d2, qn2 WHERE vec_id <> 0
                 ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn2.qnorm2), 1e-12) DESC,
                          vec_id ASC LIMIT 10)
         SELECT count(*) AS n_common,
                round(CAST(count(*) AS DOUBLE)/10.0, 6) AS recall_at_10
         FROM brute WHERE vec_id IN (SELECT vec_id FROM lsh)"""),
    Query("v_kmeans", (s, dir) => {
      // One distributed Lloyd UPDATE step over the sampled-centroid
      // assignment — the SQL-expressible half of k-means, replayed
      // bit-for-bit by the oracle (the trained MLlib KMeans path stays
      // spec-gated because its iterative trainer is not SQL-expressible).
      // Assignment is the relational argmax of decimal-exact cosines
      // (corpus × broadcast(16 seeds), map-side combined); the update is
      // a (cell, dim)-keyed partial agg of decimal contribution sums —
      // k·d result rows, never corpus-sized. At 100 TB each half is one
      // shuffle, and the updated centroids are the broadcast input of the
      // next assignment round — embedding-cluster curation's inner loop.
      val assigned = IvfIndex.assignSampled(emb(s, dir), "vec_id", "embedding", 16)
      assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(
          round(sum(col("x").cast("double").cast(DecimalType(28, 16))).cast("double") /
            count(lit(1)), 6).as("c_val"),
          count(lit(1)).as("n_members"))
    }, oracle =
      // assignment CTEs identical to v_knn_ivf's replay; the update step
      // is a per-(cell, dim) decimal mean over the members
      """WITH seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                        FROM embeddings WHERE vec_id < 16),
         pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
                FROM embeddings e CROSS JOIN seeds s),
         pd AS (SELECT vec_id, cell,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu GROUP BY 1, 2),
         cn AS (SELECT cell,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
         cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd JOIN cn ON pd.cell = cn.cell),
         assigned AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                      FROM cc GROUP BY 1),
         mem AS (SELECT a.cell, CAST(gs.i - 1 AS INTEGER) AS pos,
                        CAST(e.embedding[gs.i] AS DOUBLE) AS x
                 FROM embeddings e JOIN assigned a ON e.vec_id = a.vec_id
                 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) gs)
         SELECT cell, pos,
                round(CAST(sum(CAST(x AS DECIMAL(28,16))) AS DOUBLE) / count(*), 6) AS c_val,
                count(*) AS n_members
         FROM mem GROUP BY 1, 2"""),
    Query("v_kmeans_iter", (s, dir) => {
      // THREE full Lloyd rounds, oracled end-to-end via the PageRank
      // fixed-round-unroll idiom: each round is (a) the relational argmax
      // assignment — corpus × broadcast(16 centroid rows), map-side
      // combined, ONE row per vector on the exchange — and (b) the
      // (cell, dim)-keyed decimal mean update, whose k·d-row output is
      // localCheckpointed (lineage O(1) in rounds) and broadcast back as
      // the next round's centroids: one shuffle per round, Lloyd's
      // communication lower bound. Empty cells keep their previous
      // centroid (the standard Lloyd convention), via the left-join
      // coalesce. Means stay UNROUNDED doubles between rounds — both
      // engines divide identical decimal-exact sums by identical counts,
      // so the doubles agree bit-for-bit; rounding happens only at output.
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      var cent: DataFrame = e.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "xf")))
        .select(col("cell"), col("pos"), col("xf").cast("double").as("m"))
      var upd: DataFrame = null
      (1 to 3).foreach { _ =>
        val assigned = assignToCentroids(e, cent)
        // k·d rows; eager localCheckpoint materializes the round (one job)
        // and truncates lineage so 3 rounds don't nest into one mega-plan
        upd = assigned
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg((sum(col("x").cast("double").cast(DecimalType(28, 16)))
              .cast("double") / count(lit(1))).as("um"),
            count(lit(1)).as("n_members"))
          .localCheckpoint(true)
        cent = cent.as("p")
          .join(upd.select(col("cell"), col("pos"), col("um")),
            Seq("cell", "pos"), "left")
          .select(col("cell"), col("pos"), coalesce(col("um"), col("m")).as("m"))
      }
      upd.select(col("cell"), col("pos"), round(col("um"), 6).as("c_val"),
        col("n_members"))
    }, oracle =
      // 3 Lloyd rounds unrolled (the PageRank fixed-round-CTE idiom): per
      // round an assignment block (decimal-exact cosines vs the PREVIOUS
      // round's centroid dims, argmax with smallest-cell tie-break) and an
      // update block (per-(cell,dim) decimal mean); empty cells inherit the
      // previous centroid via the left-join coalesce. Means stay unrounded
      // between rounds; only the final output rounds.
      s"""WITH gs AS (SELECT unnest(generate_series(1, 64)) AS i),
         c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, CAST(gs.i - 1 AS INTEGER) AS pos,
                       CAST(embedding[gs.i] AS DOUBLE) AS m
                FROM embeddings, gs WHERE vec_id < 16),
         ${(1 to 3).map { r =>
           val p = s"c${r - 1}"
           s"""pu$r AS (SELECT e.vec_id, c.cell,
                  CAST(e.embedding[c.pos + 1] AS DOUBLE) AS x, c.m AS y
                FROM embeddings e CROSS JOIN $p c),
         pd$r AS (SELECT vec_id, cell,
                  CAST(sum(CAST(x*y AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu$r GROUP BY 1, 2),
         cn$r AS (SELECT cell, CAST(sum(CAST(m*m AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM $p GROUP BY 1),
         cc$r AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd$r pd JOIN cn$r cn ON pd.cell = cn.cell),
         a$r AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                FROM cc$r GROUP BY 1),
         m$r AS (SELECT a.cell, CAST(gs.i - 1 AS INTEGER) AS pos,
                  CAST(sum(CAST(CAST(e.embedding[gs.i] AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE)
                    / count(*) AS um,
                  count(*) AS n
                FROM embeddings e JOIN a$r a ON e.vec_id = a.vec_id CROSS JOIN gs
                GROUP BY 1, 2),
         c$r AS (SELECT p.cell, p.pos, coalesce(u.um, p.m) AS m
                FROM $p p LEFT JOIN m$r u ON p.cell = u.cell AND p.pos = u.pos)"""
         }.mkString(",\n         ")}
         SELECT cell, pos, round(um, 6) AS c_val, n AS n_members FROM m3"""),
    Query("v_kmeans_conv", (s, dir) => {
      // CONVERGENCE-terminated Lloyd — the "run until centroids stop
      // moving" loop v_kmeans_iter's fixed unroll couldn't express. Rounds
      // run until the max absolute per-dimension centroid movement drops
      // below EPS (strict <), capped at MAXR. The round count is
      // data-dependent but DETERMINISTIC: each round's means are doubles
      // obtained by dividing identical decimal-exact sums by identical
      // counts in both engines, so they agree bit-for-bit; the movement is
      // an IEEE subtraction + order-independent max over those identical
      // doubles, so the stopping decision is bit-reproducible too (no
      // double→decimal re-rounding, whose half-way ties could diverge
      // across engines). The stopping round is emitted as a column, so the
      // oracle gate proves the TERMINATION DECISION, not just the
      // centroids. The per-round driver-side action is ONE scalar (the
      // movement max) — the standard iterative-driver pattern; everything
      // row-shaped stays distributed, one shuffle per round (Lloyd's
      // communication lower bound), localCheckpoint keeping lineage O(1).
      // eps chosen from the measured movement trajectory so the stop is
      // INTERIOR at every test SF (movements: r1 ~0.3, r2 0.025-0.05,
      // then slow decay): sf0.001 stops at round 4, sf0.01 at 3, sf0.1
      // at 2 — three corpora, three different data-driven round counts,
      // all under the cap. A rule that always hit the cap would be a
      // fixed unroll in disguise.
      val eps = 0.03
      val maxR = 5
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      var cent: DataFrame = e.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "xf")))
        .select(col("cell"), col("pos"), col("xf").cast("double").as("m"))
      var upd: DataFrame = null
      var r = 0
      var stopped = false
      while (r < maxR && !stopped) {
        r += 1
        val assigned = assignToCentroids(e, cent)
        upd = assigned
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg((sum(col("x").cast("double").cast(DecimalType(28, 16)))
              .cast("double") / count(lit(1))).as("um"),
            count(lit(1)).as("n_members"))
          .localCheckpoint(true)
        val cNext = cent.as("p")
          .join(upd.select(col("cell"), col("pos"), col("um")),
            Seq("cell", "pos"), "left")
          .select(col("cell"), col("pos"), coalesce(col("um"), col("m")).as("m"))
          .localCheckpoint(true)
        val move = cNext.as("n")
          .join(cent.as("p"), Seq("cell", "pos"))
          .agg(max(abs(col("n.m") - col("p.m")))).first().getDouble(0)
        if (move < eps) stopped = true
        cent = cNext
      }
      upd.select(col("cell"), col("pos"), round(col("um"), 6).as("c_val"),
        col("n_members"), lit(r).as("stop_round"))
    }, oracle =
      // the convergence-terminated loop, oracled by unrolling MAXR=5
      // rounds with the SAME per-round CTE blocks as v_kmeans_iter, plus:
      // a movement scalar per round (IEEE max-abs diff of the
      // bit-identical double means — no decimal re-rounding, so the
      // comparison to EPS cannot diverge at half-way ties) and a stop
      // pick (first round with movement < 0.01, else 5). The engine's
      // driver loop and this static unroll compute the identical stopping
      // round; the stop_round column makes that part of the hash gate.
      s"""WITH gs AS (SELECT unnest(generate_series(1, 64)) AS i),
         c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, CAST(gs.i - 1 AS INTEGER) AS pos,
                       CAST(embedding[gs.i] AS DOUBLE) AS m
                FROM embeddings, gs WHERE vec_id < 16),
         ${(1 to 5).map { r =>
           val p = s"c${r - 1}"
           s"""pu$r AS (SELECT e.vec_id, c.cell,
                  CAST(e.embedding[c.pos + 1] AS DOUBLE) AS x, c.m AS y
                FROM embeddings e CROSS JOIN $p c),
         pd$r AS (SELECT vec_id, cell,
                  CAST(sum(CAST(x*y AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu$r GROUP BY 1, 2),
         cn$r AS (SELECT cell, CAST(sum(CAST(m*m AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM $p GROUP BY 1),
         cc$r AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd$r pd JOIN cn$r cn ON pd.cell = cn.cell),
         a$r AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                FROM cc$r GROUP BY 1),
         m$r AS MATERIALIZED (SELECT a.cell, CAST(gs.i - 1 AS INTEGER) AS pos,
                  CAST(sum(CAST(CAST(e.embedding[gs.i] AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE)
                    / count(*) AS um,
                  count(*) AS n
                FROM embeddings e JOIN a$r a ON e.vec_id = a.vec_id CROSS JOIN gs
                GROUP BY 1, 2),
         c$r AS MATERIALIZED (SELECT p.cell, p.pos, coalesce(u.um, p.m) AS m
                FROM $p p LEFT JOIN m$r u ON p.cell = u.cell AND p.pos = u.pos),
         d$r AS (SELECT max(abs(n.m - p.m)) AS mv
                FROM c$r n JOIN $p p ON n.cell = p.cell AND n.pos = p.pos)"""
         }.mkString(",\n         ")},
         deltas AS (${(1 to 5).map(r =>
           s"SELECT $r AS r, mv FROM d$r").mkString(" UNION ALL ")}),
         stop AS (SELECT CAST(coalesce(min(r), 5) AS INTEGER) AS rs
                  FROM deltas WHERE mv < 0.03),
         allm AS (${(1 to 5).map(r =>
           s"SELECT $r AS r, cell, pos, um, n FROM m$r").mkString(" UNION ALL ")})
         SELECT cell, pos, round(um, 6) AS c_val, n AS n_members,
                (SELECT rs FROM stop) AS stop_round
         FROM allm WHERE r = (SELECT rs FROM stop)"""),
    Query("v_knn_ivf_trained", (s, dir) => {
      // TRAINED-centroid IVF, fully hash-gated: 2 Lloyd rounds (the
      // v_kmeans_iter recurrence) train the cells, then the corpus is
      // assigned to the TRAINED centroids and the query probes the 4
      // nearest of them — train → index → serve as one oracled
      // composition. This closes the round-6 caveat that the trained
      // variant was spec-gated (MLlib's trainer isn't SQL-expressible):
      // the engine's OWN iterated k-means is, so its centroids can feed
      // the IVF path under the full decimal-exact contract. At scale the
      // trained assignment is the corpus bucketing column exactly like
      // the sampled variant — training quality changes WHICH cells exist,
      // not the serving plan shape.
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      var cent: DataFrame = e.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("cell"),
          posexplode(col("embedding")).as(Seq("pos", "xf")))
        .select(col("cell"), col("pos"), col("xf").cast("double").as("m"))
      (1 to 2).foreach { _ =>
        val assigned = assignToCentroids(e, cent)
        val upd = assigned
          .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg((sum(col("x").cast("double").cast(DecimalType(28, 16)))
              .cast("double") / count(lit(1))).as("um"))
          .localCheckpoint(true)
        cent = cent.as("p")
          .join(upd.select(col("cell"), col("pos"), col("um")),
            Seq("cell", "pos"), "left")
          .select(col("cell"), col("pos"), coalesce(col("um"), col("m")).as("m"))
      }
      val centArr = cent.groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          st => st.getField("m")).as("ce"))
      // final assignment of the corpus to the trained centroids
      val assigned = assignToCentroids(e, cent)
      val query = e.filter(col("vec_id") === 0L)
        .select("embedding").first().getSeq[Float](0)
      // probe-cell selection IN-PLAN with the same decimal cosine the
      // assignment used (the probeCells rationale: driver double-math
      // could flip near-tied centroids vs the oracle)
      val probes = centArr
        .select(col("cell"),
          Similarity.cosineCols(typedLit(query), col("ce")).as("qc"))
        .orderBy(col("qc").desc, col("cell").asc)
        .limit(4)
        .select("cell")
      assigned.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= 0L)
        .select(col("vec_id"),
          Similarity.cosineToQuery(col("embedding"), query).as("c_raw"))
        .orderBy(col("c_raw").desc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("c_raw"), 6).as("cosine"))
    }, oracle =
      // 2 Lloyd rounds unrolled (the v_kmeans_iter CTE blocks), then the
      // ivfOracle shape against the TRAINED centroids: final assignment =
      // argmax over corpus × c2, probes = vec 0's top-4 trained cells,
      // exact rerank over probed vectors — train → index → serve replayed
      // end to end
      s"""WITH gs AS (SELECT unnest(generate_series(1, 64)) AS i),
         c0 AS (SELECT CAST(vec_id AS INTEGER) AS cell, CAST(gs.i - 1 AS INTEGER) AS pos,
                       CAST(embedding[gs.i] AS DOUBLE) AS m
                FROM embeddings, gs WHERE vec_id < 16),
         ${(1 to 2).map { r =>
           val p = s"c${r - 1}"
           s"""pu$r AS (SELECT e.vec_id, c.cell,
                  CAST(e.embedding[c.pos + 1] AS DOUBLE) AS x, c.m AS y
                FROM embeddings e CROSS JOIN $p c),
         pd$r AS (SELECT vec_id, cell,
                  CAST(sum(CAST(x*y AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu$r GROUP BY 1, 2),
         cn$r AS (SELECT cell, CAST(sum(CAST(m*m AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM $p GROUP BY 1),
         cc$r AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd$r pd JOIN cn$r cn ON pd.cell = cn.cell),
         a$r AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                FROM cc$r GROUP BY 1),
         m$r AS (SELECT a.cell, CAST(gs.i - 1 AS INTEGER) AS pos,
                  CAST(sum(CAST(CAST(e.embedding[gs.i] AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE)
                    / count(*) AS um
                FROM embeddings e JOIN a$r a ON e.vec_id = a.vec_id CROSS JOIN gs
                GROUP BY 1, 2),
         c$r AS (SELECT p.cell, p.pos, coalesce(u.um, p.m) AS m
                FROM $p p LEFT JOIN m$r u ON p.cell = u.cell AND p.pos = u.pos)"""
         }.mkString(",\n         ")},
         puF AS (SELECT e.vec_id, c.cell,
                  CAST(e.embedding[c.pos + 1] AS DOUBLE) AS x, c.m AS y
                FROM embeddings e CROSS JOIN c2 c),
         pdF AS (SELECT vec_id, cell,
                  CAST(sum(CAST(x*y AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(x*x AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM puF GROUP BY 1, 2),
         cnF AS (SELECT cell, CAST(sum(CAST(m*m AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM c2 GROUP BY 1),
         ccF AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pdF pd JOIN cnF cn ON pd.cell = cn.cell),
         aF AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                FROM ccF GROUP BY 1),
         probes AS (SELECT cell FROM ccF WHERE vec_id = 0
                    ORDER BY c DESC, cell ASC LIMIT 4),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         cand_emb AS (SELECT e.vec_id, e.embedding FROM embeddings e
                      JOIN aF a ON e.vec_id = a.vec_id
                      JOIN probes p ON a.cell = p.cell
                      WHERE e.vec_id <> 0),
         ${accumSql("cand_emb")}
         SELECT vec_id, round(dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12), 6) AS cosine
         FROM d, qn
         ORDER BY dot/greatest(sqrt(norm2)*sqrt(qn.qnorm2), 1e-12) DESC, vec_id ASC LIMIT 10"""),
    Query("v_knn_ivf_probe", (s, dir) => {
      // the SERVING number for IVF: assignment loaded from the persisted
      // index table (built once per corpus by loadOrBuildSampled), so this
      // declared query pays probe-cell selection + one pruned key-equality
      // join + exact rerank — the steady-state cost a deployment sees,
      // now hash-gated and benched on its own row instead of buried in
      // v_knn_ivf's per-run rebuild. Same result as v_knn_ivf (the index
      // IS the assignment), so the oracle replay is shared.
      val e = emb(s, dir)
      val assigned = IvfIndex.loadOrBuildSampled(s, e, s"$dir/embeddings",
        "vec_id", "embedding", nCells = 16)
      val query = e.filter(col("vec_id") === 0L)
        .select("embedding").first().getSeq[Float](0)
      IvfIndex.probeSampled(assigned, e, "vec_id", "embedding", query,
        queryId = 0L, k = 10, nCells = 16, nprobe = 4)
    }, oracle = ivfOracle),
    Query("v_knn_ivfpq_probe", (s, dir) => {
      // the production composition's SERVING number: IVF assignment, PQ
      // codebook, and the FULL-corpus code table all load from persisted
      // fingerprint-keyed index tables (built once); the query pays
      // probe-cell selection, a semi join restricting the m-byte codes to
      // probed cells, the broadcast ADC LUT, and the per-vector decimal
      // sum. Encoding is per-vector independent, so the result is
      // bit-identical to v_knn_ivfpq's per-call probed-only encode — the
      // oracle replay is shared.
      val e = emb(s, dir)
      val assigned = IvfIndex.loadOrBuildSampled(s, e, s"$dir/embeddings",
        "vec_id", "embedding", nCells = 16)
      val (cb, enc) = PqIndex.loadOrBuildPq(s, e, s"$dir/embeddings",
        "vec_id", "embedding", m = 8, subDim = 8, nCodes = 16)
      val query = e.filter(col("vec_id") === 0L)
        .select("embedding").first().getSeq[Float](0)
      PqIndex.probeIvfPq(assigned, enc, cb, e, "vec_id", "embedding",
        query, queryId = 0L, k = 10, nCells = 16, nprobe = 4, subDim = 8)
    }, oracle = ivfpqOracle),
    Query("v_knn_ivf_append", (s, dir) => {
      // INCREMENTAL index maintenance (the d_incremental pattern for ANN):
      // the corpus splits into a base (95%) and a newly-arrived batch
      // (vec_id ≡ 19 mod 20 — seeds 0..15 stay in the base); the batch
      // assigns against the EXISTING centroids only (one batch-sized
      // argmax pass — appendSampledWith, never a rebuild) and unions with
      // the base assignment. Probing the appended index must equal probing
      // a full rebuild — guaranteed because sampled-centroid assignment is
      // per-row independent, and PROVEN here by gating the probe result
      // against the rebuild oracle (ivfOracle, shared with v_knn_ivf). At
      // 100 TB this is the index's steady-state write path: each ingest
      // batch pays its own assignment and appends to the bucketed corpus.
      val e = emb(s, dir)
      val base = e.filter(pmod(col("vec_id"), lit(20)) =!= 19)
      val batch = e.filter(pmod(col("vec_id"), lit(20)) === 19)
      val assigned = IvfIndex.assignSampled(base, "vec_id", "embedding", 16)
        .unionByName(
          IvfIndex.assignSampledWith(batch, e, "vec_id", "embedding", 16))
      val query = e.filter(col("vec_id") === 0L)
        .select("embedding").first().getSeq[Float](0)
      IvfIndex.probeSampled(assigned, e, "vec_id", "embedding", query,
        queryId = 0L, k = 10, nCells = 16, nprobe = 4)
    }, oracle =
      // append-then-probe ≡ rebuild-then-probe: per-row-independent
      // assignment makes the incremental index bit-identical to the rebuild,
      // so the maintenance path shares the rebuild's oracle
      ivfOracle),
    Query("s_knn_ingest", (s, dir) => {
      // STREAMING INDEX INGEST — the IVF write path run continuously (the
      // s_cdc_stream pinned-mtime file-replay staging idiom on the vector
      // modality): the corpus arrives as 4 micro-batches (vec_id mod 4);
      // foreachBatch assigns each batch against the FROZEN centroids
      // (assignSampledWith — one batch-sized codegen'd argmax, never a
      // rebuild) and appends to the index table. After the drain, probing
      // the accumulated index must equal probing a one-shot rebuild:
      // per-row-independent assignment makes the streamed index
      // bit-identical to the batch one, proven under the rebuild's own
      // oracle (ivfOracle, shared with v_knn_ivf/append/delete). This is
      // the steady state of a 100 TB vector store — ingestion is a
      // stream, each micro-batch pays its own assignment, the probe
      // never notices.
      val e = emb(s, dir)
      val table = "rpt_s_knn_ingest_idx"
      graft.pipeline.Catalog.dropManaged(s, table)
      val root = java.nio.file.Files.createTempDirectory("graft-knn-ingest-")
      val streamDir = root.resolve("stream")
      java.nio.file.Files.createDirectory(streamDir)
      for (i <- 0 until 4) {
        val st = root.resolve(s"stage_$i").toString
        e.filter(pmod(col("vec_id"), lit(4)) === i)
          .coalesce(1).write.mode("overwrite").parquet(st)
        val part = new java.io.File(st).listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).head
        val dst = streamDir.resolve(f"chunk_$i%02d.parquet").toFile
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1600000000000L + i * 60000L)
      }
      val q = s.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          IvfIndex.assignSampledWith(batch, e, "vec_id", "embedding", 16)
            .write.mode("append").format("parquet").saveAsTable(table)
        }.start()
      try q.processAllAvailable() finally q.stop()
      val query = e.filter(col("vec_id") === 0L)
        .select("embedding").first().getSeq[Float](0)
      IvfIndex.probeSampled(s.table(table), e, "vec_id", "embedding", query,
        queryId = 0L, k = 10, nCells = 16, nprobe = 4)
    }, oracle =
      // streamed-ingest index ≡ one-shot rebuild: per-row-independent
      // assignment batch by batch accumulates the identical index, so the
      // streaming write path shares the rebuild's oracle
      ivfOracle),
    Query("v_knn_ivf_delete", (s, dir) => {
      // ERASURE on a serving ANN index — v_knn_ivf_append's mirror, and
      // the p_targeted_delete obligation applied to the vector store: a
      // delete batch (vec_id ≡ 17 mod 20 — seeds 0..15 and the query
      // survive) tombstones out of the PERSISTED assignment via one
      // batch-sized anti-join. No reassignment, no retraining: centroids
      // stay frozen (production never retrains on erasure), and because
      // sampled-centroid assignment is per-row independent,
      // delete-then-probe is bit-identical to rebuild-on-the-survivors-
      // then-probe — proven by gating the probe against the rebuild
      // oracle on the filtered corpus. At 100 TB the anti-join is
      // delete-batch-sized against the cell-bucketed index: the GDPR
      // path costs the batch, never the corpus.
      val e = emb(s, dir)
      val assigned = IvfIndex.assignSampled(e, "vec_id", "embedding", 16)
      val dels = e.filter(pmod(col("vec_id"), lit(20)) === 17)
        .select(col("vec_id").as("del_id"))
      val compacted = assigned
        .join(dels, assigned("vec_id") === dels("del_id"), "left_anti")
      val kept = e.join(dels, e("vec_id") === dels("del_id"), "left_anti")
      val query = e.filter(col("vec_id") === 0L)
        .select("embedding").first().getSeq[Float](0)
      IvfIndex.probeSampled(compacted, kept, "vec_id", "embedding", query,
        queryId = 0L, k = 10, nCells = 16, nprobe = 4)
    }, oracle =
      // delete-then-probe ≡ rebuild-then-probe on the surviving corpus: the
      // rebuild oracle with the erased batch filtered out of every corpus
      // reference (seeds 0..15 and the query are untouched by vec_id ≡ 17
      // mod 20, so the replay's trained parameters are identical)
      ("WITH kept AS (SELECT * FROM embeddings WHERE vec_id % 20 <> 17),\n " +
        ivfOracle.trim.stripPrefix("WITH ")
          .replace("FROM embeddings", "FROM kept"))),
    Query("v_knn_shards", (s, dir) => {
      // SHARDED scatter-gather ANN serving — how a 100 TB vector store is
      // actually deployed: the corpus is split across independent shards
      // (here 2, by vec_id parity), each shard trains its OWN IVF
      // centroids on its OWN data (no global coordination — shards are
      // built by disjoint indexing jobs, the FAISS/Vespa multi-shard
      // shape), and a query SCATTERS to every shard (probe that shard's
      // nprobe nearest cells, exact top-k within the shard) then GATHERS
      // by fusing the per-shard top-k lists on the exact score. Because
      // the per-shard rerank is the same decimal-exact cosine, the fused
      // list equals the global top-k over the union of probed candidates
      // — so the gate holds bit-for-bit against a full SQL replay of both
      // shards. Plan: per shard, one scan-fused AssignCellExpr argmax +
      // one broadcast probe-cell join + a k-row TakeOrdered; the gather is
      // a 2k-row union. Nothing in the scatter-gather grows with shard
      // COUNT except the k-row lists — the serving path stays flat as the
      // corpus (and its shard count) scales out.
      val e = emb(s, dir)
      val query = e.filter(col("vec_id") === 0L)
        .select("embedding").first().getSeq[Float](0)
      def shardTop(p: Int): DataFrame = {
        val shard = e.filter(pmod(col("vec_id"), lit(2)) === p)
        // per-shard seeds: the shard's 16 lowest-id members (dense ids ⇒
        // vec_id < 32 of matching parity), re-keyed DIV 2 to cells 0..15
        val seeds = e.filter(col("vec_id") < 32 &&
            pmod(col("vec_id"), lit(2)) === p)
          .select(expr("vec_id DIV 2").cast("long").as("vec_id"),
            col("embedding"))
        val assigned =
          IvfIndex.assignSampledWith(shard, seeds, "vec_id", "embedding", 16)
        val probeDf =
          IvfIndex.probeCells(seeds, "vec_id", "embedding", query, 16, 4)
        assigned.join(broadcast(probeDf), "cell")
          .filter(col("vec_id") =!= 0L)
          .select(col("vec_id"),
            Similarity.cosineToQuery(col("embedding"), query).as("c_raw"))
          .orderBy(col("c_raw").desc, col("vec_id").asc).limit(10)
      }
      shardTop(0).unionByName(shardTop(1))
        .orderBy(col("c_raw").desc, col("vec_id").asc).limit(10)
        .select(col("vec_id"), round(col("c_raw"), 6).as("cosine"))
    }, oracle =
      // scatter-gather over 2 independently-trained shard indexes: each leg
      // replays the full ivfOracle machinery on its parity-split corpus with
      // re-keyed seeds; the gather fuses the per-shard exact top-10 lists on
      // the unrounded score — equal to the engine's fused serving path
      // because the per-shard rerank is the same decimal-exact cosine
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
       qnq AS (SELECT CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS qnorm2
               FROM (SELECT unnest(qe) AS x FROM q)),
       ${shardOracle(0)},
       ${shardOracle(1)}
       SELECT vec_id, round(c, 6) AS cosine
       FROM (SELECT * FROM top0 UNION ALL SELECT * FROM top1)
       ORDER BY c DESC, vec_id ASC LIMIT 10"""),
    Query("v_semdedup_scaled", (s, dir) => {
      // v_semdedup with the cell count DERIVED from corpus size —
      // nCells = ⌈√N⌉ — so the in-cell quadratic stays bounded as the
      // corpus grows: E[cell size] ≈ √N ⇒ Σ n_c² ≈ N^1.5, versus N²/k for
      // any FIXED k (the PLANS.md nCells-∝-corpus argument, now under the
      // hash gate at every SF instead of only argued). Both engines derive
      // the identical count — ceil and sqrt of an integer-valued double
      // are IEEE-exact — and ids are dense, so seeds 0..nCells-1 exist.
      val e = emb(s, dir)
      val nCells = math.ceil(math.sqrt(e.count().toDouble)).toInt
      val assigned = IvfIndex.assignSampled(e, "vec_id", "embedding", nCells)
        .localCheckpoint()
      val a = assigned.select(col("cell"), col("vec_id").as("ka"),
        col("embedding").as("va"),
        Similarity.decNorm2(col("embedding")).as("na2"))
      val b = assigned.select(col("cell").as("cb"), col("vec_id").as("kb"),
        col("embedding").as("vb"),
        Similarity.decNorm2(col("embedding")).as("nb2"))
      val losers = a.join(b, col("cell") === col("cb") && col("ka") < col("kb"))
        .filter(Similarity.cosineFast(col("va"), col("vb")) >= 0.35 - 1e-9)
        .filter(Similarity.cosineFromParts(
          Similarity.decDot(col("va"), col("vb")),
          col("na2"), col("nb2")) >= 0.35)
        .select(col("kb").as("loser")).distinct()
      assigned.join(losers, col("vec_id") === col("loser"), "left_anti")
        .select(col("vec_id"), col("cell"))
    }, oracle =
      // the v_semdedup replay with nCells derived as ceil(sqrt(N)) — the
      // seed predicate is the only difference; ceil/sqrt of an
      // integer-valued double are IEEE-exact in both engines
      """WITH k AS (SELECT ceil(sqrt(count(*))) AS nc FROM embeddings),
         seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                   FROM embeddings WHERE vec_id < (SELECT nc FROM k)),
         pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
                FROM embeddings e CROSS JOIN seeds s),
         pd AS (SELECT vec_id, cell,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu GROUP BY 1, 2),
         cn AS (SELECT cell,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
         cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd JOIN cn ON pd.cell = cn.cell),
         assigned AS MATERIALIZED (
           SELECT vec_id, CAST(-((max(struct_pack(c := c, nc := -cell))).nc) AS INTEGER) AS cell
           FROM cc GROUP BY 1),
         pairs AS (SELECT a1.vec_id AS ka, a2.vec_id AS kb
                   FROM assigned a1 JOIN assigned a2
                     ON a1.cell = a2.cell AND a1.vec_id < a2.vec_id),
         px AS (SELECT p.ka, p.kb, unnest(e1.embedding) AS x, unnest(e2.embedding) AS y
                FROM pairs p JOIN embeddings e1 ON e1.vec_id = p.ka
                             JOIN embeddings e2 ON e2.vec_id = p.kb),
         pc AS (SELECT ka, kb,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS na,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS nb
                FROM px GROUP BY 1, 2),
         losers AS (SELECT DISTINCT kb FROM pc
                    WHERE dot/greatest(sqrt(na)*sqrt(nb), 1e-12) >= 0.35)
         SELECT a.vec_id, a.cell FROM assigned a
         WHERE a.vec_id NOT IN (SELECT kb FROM losers)"""),
    Query("v_knn_batch", (s, dir) => {
      // the serving shape: 8 queries answered in ONE pass over the corpus —
      // broadcast query table, decimal cosine per pair, per-query top-5 via
      // the two-phase TopKPerKey operator (shuffle = scored triples capped
      // at partitions·queries·k, not corpus·queries). Output ordered by the
      // driver compare's canonical sort; rank is recoverable from cosine.
      val e = emb(s, dir)
      Similarity.knnBatch(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 8), "vec_id", "embedding", k = 5)
    }, oracle =
      // per-query replay of the v_knn_brute accumulation with the query
      // table inlined; rank via row_number over the unrounded cosine with
      // the vec_id tie-break — identical to the heap operator's total order
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                    FROM embeddings WHERE vec_id < 8),
         u AS (SELECT q.query_id, e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y
               FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
         d AS (SELECT query_id, vec_id,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
               FROM u GROUP BY 1, 2),
         qn AS (SELECT query_id,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS q2
                FROM (SELECT query_id, unnest(qe) AS y FROM q) GROUP BY 1),
         sc AS (SELECT d.query_id, vec_id,
                  dot/greatest(sqrt(n2)*sqrt(q2), 1e-12) AS c,
                  row_number() OVER (PARTITION BY d.query_id
                    ORDER BY dot/greatest(sqrt(n2)*sqrt(q2), 1e-12) DESC, vec_id ASC) AS rn
                FROM d JOIN qn USING (query_id))
         SELECT query_id, vec_id, round(c, 6) AS cosine
         FROM sc WHERE rn <= 5"""),
    Query("v_hard_negatives", (s, dir) => {
      // hard-negative mining for contrastive retrieval training (DPR,
      // Karpukhin et al. EMNLP'20; ANCE, Xiong et al. ICLR'21 — the
      // negatives that actually move a dual-encoder's loss are the
      // most-similar items with a DIFFERENT label, not random ones, and
      // mining them is a full-corpus retrieval pass per training batch —
      // a pipeline op, not a serving op). Same one-corpus-pass shape as
      // v_knn_batch (8 broadcast queries, decimal-exact cosine, per-query
      // top-5 through the two-phase TopKPerKey heap) with the label-
      // mismatch test fused into the scan stage BEFORE the heap, so a
      // query surrounded by same-label near-dups still yields k true
      // negatives instead of a truncated list.
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < 8)
        .select(col("vec_id").cast("long").as("query_id"),
          col("embedding").as("qv"), col("label").as("qlabel"))
      val scored = e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("query_id")
          && col("label") =!= col("qlabel"))
        .select(col("query_id"), col("vec_id"), col("label"),
          Similarity.cosineCols(col("embedding"), col("qv")).as("c_raw"))
      org.apache.spark.sql.GraftPlanBridge.topKPerKey(scored,
          Seq("query_id"), Seq("c_raw" -> false, "vec_id" -> true), 5)
        .select(col("query_id"), col("vec_id"), col("label"),
          round(col("c_raw"), 6).as("cosine"))
    }, oracle =
      // the v_knn_batch replay with the label-mismatch filter applied
      // before the rank, mirroring the engine's pre-heap filter
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
                    FROM embeddings WHERE vec_id < 8),
         u AS (SELECT q.query_id, e.vec_id, e.label, unnest(e.embedding) AS x, unnest(q.qe) AS y
               FROM embeddings e CROSS JOIN q
               WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel),
         d AS (SELECT query_id, vec_id, label,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                 CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
               FROM u GROUP BY 1, 2, 3),
         qn AS (SELECT query_id,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS q2
                FROM (SELECT query_id, unnest(qe) AS y FROM q) GROUP BY 1),
         sc AS (SELECT d.query_id, vec_id, label,
                  dot/greatest(sqrt(n2)*sqrt(q2), 1e-12) AS c,
                  row_number() OVER (PARTITION BY d.query_id
                    ORDER BY dot/greatest(sqrt(n2)*sqrt(q2), 1e-12) DESC, vec_id ASC) AS rn
                FROM d JOIN qn USING (query_id))
         SELECT query_id, vec_id, label, round(c, 6) AS cosine
         FROM sc WHERE rn <= 5"""),
    Query("v_kcenter", (s, dir) => {
      // greedy k-center / farthest-point selection (Gonzalez, TCS 1985 —
      // the 2-approximation every coreset/data-pruning pipeline uses to
      // pick a small COVERING subset): seed with vec_id 0, then 4× pick
      // the vector FURTHEST from the selected set — argmin over the
      // corpus of max-cosine-to-picks, ties → smallest vec_id. cover_sim
      // is that max-similarity at selection time (the coverage radius the
      // pick certifies; NULL for the seed — it has no predecessors).
      // Plan: the coverage frame (vec_id, max sim so far) updates with
      // ONE corpus-pass decimal-cosine column against the newest pick
      // (greatest() of exact doubles — order-independent) and
      // re-checkpoints (O(1) lineage, the Lloyd idiom); the pick itself
      // is a 1-row TakeOrdered driver scalar per round. k corpus passes
      // total — the algorithm's inherent lower bound — and the per-pick
      // state the driver holds is k ids, never data. At 100 TB k-center
      // runs exactly this shape against the IVF-bucketed corpus.
      val e = emb(s, dir)
      var picks = Vector[(Int, Long, Option[Double])]((1, 0L, None))
      var cover: DataFrame = null
      for (step <- 2 to 5) {
        val lastId = picks.last._2
        val qv: Seq[Float] = e.filter(col("vec_id") === lastId)
          .select("embedding").take(1).head.getSeq[Float](0)
        val simNew = e.select(col("vec_id"),
          Similarity.cosineToQuery(col("embedding"), qv).as("s_new"))
        cover = (if (cover == null) simNew.select(col("vec_id"), col("s_new").as("ms"))
                 else cover.join(simNew, "vec_id")
                   .select(col("vec_id"), greatest(col("ms"), col("s_new")).as("ms")))
          .localCheckpoint()
        val picked = picks.map(_._2)
        val r = cover.filter(!col("vec_id").isin(picked: _*))
          .orderBy(col("ms").asc, col("vec_id").asc).take(1).head
        picks :+= ((step, r.getLong(0), Some(r.getDouble(1))))
      }
      import s.implicits._
      picks.toDF("step", "vec_id", "cs_raw")
        .select(col("step"), col("vec_id"),
          round(col("cs_raw"), 6).as("cover_sim"))
    }, oracle =
      // 4 unrolled greedy rounds, MATERIALIZED per CTE (the v_mmr lesson —
      // the cover chain would otherwise inline exponentially): per round,
      // decimal-exact cosine of every vector against the newest pick,
      // cover = greatest(cover, sim), pick = argmin(cover) excluding
      // prior picks with the identical (ms ASC, vec_id ASC) total order
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
         p1 AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
         u1 AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(p1.pe) AS y
                FROM e, p1),
         d1 AS (SELECT vec_id,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS qn2
                FROM u1 GROUP BY 1),
         cover1 AS MATERIALIZED (
           SELECT vec_id, dot/greatest(sqrt(n2)*sqrt(qn2), 1e-12) AS ms
           FROM d1),
         ${(2 to 5).map { r =>
           val excl = (2 until r)
             .map(i => s"AND vec_id NOT IN (SELECT vec_id FROM s$i)")
             .mkString(" ")
           val coverNext =
             if (r == 5) ""
             else s""",
         cover$r AS MATERIALIZED (
           SELECT c.vec_id,
                  greatest(c.ms, d$r.dot/greatest(sqrt(d$r.n2)*sqrt(d$r.qn2), 1e-12)) AS ms
           FROM cover${r - 1} c JOIN d$r USING (vec_id))"""
           s"""s$r AS MATERIALIZED (
           SELECT vec_id, ms FROM cover${r - 1}
           WHERE vec_id <> 0 $excl
           ORDER BY ms ASC, vec_id ASC LIMIT 1)""" + (if (r == 5) "" else s""",
         p$r AS (SELECT e2.embedding AS pe FROM e e2 JOIN s$r USING (vec_id)),
         u$r AS (SELECT e.vec_id, unnest(e.embedding) AS x, unnest(p$r.pe) AS y
                FROM e, p$r),
         d$r AS (SELECT vec_id,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS qn2
                FROM u$r GROUP BY 1)""") + coverNext
         }.mkString(",\n         ")}
         SELECT CAST(1 AS INTEGER) AS step, CAST(0 AS BIGINT) AS vec_id,
                CAST(NULL AS DOUBLE) AS cover_sim
         ${(2 to 5).map(r =>
           s"""UNION ALL SELECT CAST($r AS INTEGER), vec_id, round(ms, 6)
               FROM s$r""").mkString("\n         ")}"""),
    Query("v_cluster_sample", (s, dir) => {
      // cluster-stratified diversity sampling — the "balance the clusters,
      // not the corpus" selection step a curation pipeline runs before
      // quota-based mixing (cluster-proportional pruning in SemDeDup/DCLM-
      // style stacks): assign every vector to its nearest seed centroid
      // (the shared IVF sampled assignment — AssignCellExpr's codegen'd
      // argmax with decimal-exact rerank, the machinery the whole
      // v_knn_ivf family hash-gates), then keep exactly 2 representatives
      // per cell ranked by md5(vec_id) — the hash-as-RNG idiom
      // (t_sample_split): reproducible on 1000 executors, refreshes per
      // corpus version, needs no generator state. The per-cell pick runs
      // through the two-phase TopKPerKey heap, so the shuffle carries at
      // most partitions·cells·k rows, never the corpus. At 100 TB this is
      // one assignment pass + a heap-bounded shuffle — the cheapest
      // defensible diversity downsample, and the sampled ids land already
      // bucketed by cell for whatever consumes them next.
      val e = emb(s, dir)
      val ranked = IvfIndex.assignSampled(e, "vec_id", "embedding", 16)
        .select(col("cell"), col("vec_id"),
          md5(col("vec_id").cast("string")).as("h"))
      org.apache.spark.sql.GraftPlanBridge.topKPerKey(ranked,
          Seq("cell"), Seq("h" -> true, "vec_id" -> true), 2)
        .select(col("cell"), col("vec_id"), col("h"))
    }, oracle =
      // the ivfOracle assignment CTEs (decimal-exact cosine argmax, ties →
      // smallest cell), then the identical md5-rank row_number pick: the
      // heap operator and the window must agree row-for-row
      s"""WITH seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                 FROM embeddings WHERE vec_id < 16),
       pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
              FROM embeddings e CROSS JOIN seeds s),
       pd AS (SELECT vec_id, cell,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
              FROM pu GROUP BY 1, 2),
       cn AS (SELECT cell,
                CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
              FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
       cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
              FROM pd JOIN cn ON pd.cell = cn.cell),
       assigned AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                    FROM cc GROUP BY 1),
       ranked AS (SELECT cell, vec_id, md5(CAST(vec_id AS VARCHAR)) AS h,
                    row_number() OVER (PARTITION BY cell
                      ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rn
                  FROM assigned)
       SELECT CAST(cell AS INTEGER) AS cell, vec_id, h
       FROM ranked WHERE rn <= 2"""),
    Query("v_cluster_purity", (s, dir) => {
      // external cluster-quality evaluation: per-cell majority-label purity
      // of the sampled-seed assignment against the embeddings' labels —
      // the acceptance gate a pipeline checks before letting a clustering
      // drive downstream sampling (the g_modularity rationale, for the
      // vector side). Per cell: size, majority label (ties → the LARGEST
      // label id — max(struct) is total over (count, int label),
      // identical in both engines), majority count, and purity =
      // top_n / n as one IEEE
      // division. Plan: one assignment pass, one (cell,label) hash
      // aggregate, one cell-sized argmax — map-side combinable end to
      // end; the result frame is cells-sized, nothing corpus-shaped
      // survives the second aggregate.
      val e = emb(s, dir)
      IvfIndex.assignSampled(e, "vec_id", "embedding", 16)
        .join(e.select(col("vec_id"), col("label")), "vec_id")
        .groupBy("cell", "label").agg(count(lit(1)).as("cnt"))
        .groupBy("cell").agg(
          sum(col("cnt")).as("n"),
          max(struct(col("cnt"), col("label"))).as("mx"))
        .select(col("cell"), col("n"),
          col("mx.label").as("top_label"), col("mx.cnt").as("top_n"),
          round(col("mx.cnt").cast("double") / col("n").cast("double"), 6)
            .as("purity"))
    }, oracle =
      // same assignment replay, then the (cell,label) counts and the
      // max(struct) majority argmax — total over (count, ASCII label)
      s"""WITH seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                 FROM embeddings WHERE vec_id < 16),
       pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
              FROM embeddings e CROSS JOIN seeds s),
       pd AS (SELECT vec_id, cell,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
              FROM pu GROUP BY 1, 2),
       cn AS (SELECT cell,
                CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
              FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
       cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
              FROM pd JOIN cn ON pd.cell = cn.cell),
       assigned AS (SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
                    FROM cc GROUP BY 1),
       cl AS (SELECT a.cell, e.label, CAST(count(*) AS BIGINT) AS cnt
              FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id
              GROUP BY 1, 2),
       agg AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS n,
                      max(struct_pack(cnt := cnt, label := label)) AS mx
               FROM cl GROUP BY 1)
       SELECT CAST(cell AS INTEGER) AS cell, n,
              (mx).label AS top_label, (mx).cnt AS top_n,
              round(CAST((mx).cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS purity
       FROM agg"""),
    Query("v_rrf", (s, dir) => {
      // hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
      // Büttcher SIGIR'09): fuse the BM25 lexical top-50 (the t_bm25
      // scoring chain verbatim, same RSJ-odds determinism substitution)
      // with the dense cosine top-50 (the v_knn_brute leg, query = vec 0)
      // as rrf = Σ_legs 1/(60 + rank) — THE production sparse+dense
      // combiner, because it is rank-based and needs no score calibration
      // between legs. documents.doc_id ↔ embeddings.vec_id align 1:1 by
      // construction (the doc→embedding lineage a real corpus carries).
      // Determinism: ranks are integers off totally-ordered (unrounded
      // score, id) sorts; each leg contributes one IEEE division and the
      // fusion is one fixed-order double add — bit-identical cross-engine.
      // Plan: each leg is its existing bounded retrieval (TakeOrdered
      // top-50); ranking + fusion run on two 50-row frames (a window over
      // ≤50 rows, then a full outer join) — nothing corpus-shaped leaves
      // the legs, and at scale each leg swaps to its index path (IVF
      // probe / postings list) without touching the fusion.
      import org.apache.spark.sql.expressions.Window
      val qTerms = Seq("hash", "merge", "vector")
      val dtok = Tables.load(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("len", size(col("toks")))
      val stats = dtok.agg(count(lit(1)).as("n_docs"),
        sum(col("len").cast(DecimalType(28, 6))).cast("double").as("sum_len"))
      val tf = dtok
        .select(col("doc_id"), col("len"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(qTerms: _*))
        .groupBy("doc_id", "len", "tok").agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val lex50 = tf.join(dfr, "tok").crossJoin(broadcast(stats))
        .select(col("doc_id"),
          ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("len") / (col("sum_len") / col("n_docs")))))
            .cast(DecimalType(28, 16)).as("term_score"))
        .groupBy("doc_id").agg(sum(col("term_score")).cast("double").as("sc"))
        .orderBy(col("sc").desc, col("doc_id").asc).limit(50)
      val lexR = lex50.withColumn("lex_rank",
        row_number().over(Window.orderBy(col("sc").desc, col("doc_id").asc))
          .cast("long")).select("doc_id", "lex_rank")
      val e = emb(s, dir)
      // 1-row query fetch (the knnBrute watermark-style scalar)
      val qv: Seq[Float] = e.filter(col("vec_id") === 0)
        .select("embedding").take(1).head.getSeq[Float](0)
      val den50 = e.filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"),
          Similarity.cosineToQuery(col("embedding"), qv).as("c"))
        .orderBy(col("c").desc, col("doc_id").asc).limit(50)
      val denR = den50.withColumn("dense_rank",
        row_number().over(Window.orderBy(col("c").desc, col("doc_id").asc))
          .cast("long")).select("doc_id", "dense_rank")
      lexR.join(denR, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
          (coalesce(lit(1.0) / (lit(60) + col("lex_rank")), lit(0.0))
            + coalesce(lit(1.0) / (lit(60) + col("dense_rank")), lit(0.0)))
            .as("rrf_raw"))
        .orderBy(col("rrf_raw").desc, col("doc_id").asc).limit(20)
        .select(col("doc_id"),
          coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
          coalesce(col("dense_rank"), lit(0L)).as("dense_rank"),
          round(col("rrf_raw"), 9).as("rrf"))
    }, oracle =
      // the t_bm25 CTEs (identical IEEE chain, decimal per-term cast) for
      // the lexical leg, the shared decimal-accumulation fragment for the
      // dense leg, row_number ranks off the same total orders, and the
      // identically-parenthesized fused division chain
      s"""WITH dk AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
                  len(string_split(text, ' ')) AS len
           FROM documents),
         stats AS (SELECT count(*) AS n_docs,
                          CAST(sum(CAST(len AS DECIMAL(28,6))) AS DOUBLE)
                            AS sum_len
                   FROM dk),
         tf AS (SELECT doc_id, len, tok, count(*) AS tf
                FROM (SELECT doc_id, len, unnest(toks) AS tok FROM dk)
                WHERE tok IN ('hash', 'merge', 'vector')
                GROUP BY 1, 2, 3),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         ts AS (SELECT doc_id,
                  CAST((n_docs - df + 0.5) / (df + 0.5)
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * len / (sum_len / n_docs)))
                    AS DECIMAL(28,16)) AS term_score
                FROM tf JOIN dfx USING (tok), stats),
         lex50 AS (SELECT doc_id, CAST(sum(term_score) AS DOUBLE) AS sc
                   FROM ts GROUP BY 1
                   ORDER BY sc DESC, doc_id ASC LIMIT 50),
         lexr AS (SELECT doc_id,
                    CAST(row_number() OVER (ORDER BY sc DESC, doc_id ASC)
                      AS BIGINT) AS lex_rank
                  FROM lex50),
         q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
         ${accumSql("embeddings", "v")},
         den50 AS (SELECT vec_id AS doc_id,
                     dot/greatest(sqrt(norm2)*sqrt(qnv.qnorm2), 1e-12) AS c
                   FROM dv, qnv WHERE vec_id <> 0
                   ORDER BY c DESC, doc_id ASC LIMIT 50),
         denr AS (SELECT doc_id,
                    CAST(row_number() OVER (ORDER BY c DESC, doc_id ASC)
                      AS BIGINT) AS dense_rank
                  FROM den50)
         SELECT COALESCE(l.doc_id, r.doc_id) AS doc_id,
                COALESCE(l.lex_rank, 0) AS lex_rank,
                COALESCE(r.dense_rank, 0) AS dense_rank,
                round(COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0.0)
                    + COALESCE(CAST(1 AS DOUBLE) / (60 + r.dense_rank), 0.0),
                  9) AS rrf
         FROM lexr l FULL OUTER JOIN denr r ON l.doc_id = r.doc_id
         ORDER BY COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0.0)
                + COALESCE(CAST(1 AS DOUBLE) / (60 + r.dense_rank), 0.0) DESC,
                  COALESCE(l.doc_id, r.doc_id) ASC
         LIMIT 20"""),
    Query("v_knn_graph", (s, dir) => {
      // cell-blocked k-NN graph construction — the substrate SemDeDup-
      // style clustering, NN-Descent refinement, and mutual-kNN density
      // methods all start from (a corpus-wide "top-k neighbors per
      // vector" table, not a per-query retrieval). Blocking: every vector
      // assigns to its sampled-seed IVF cell with nCells = ⌈√N⌉ (the
      // v_semdedup_scaled scale derivation: E[cell] ≈ √N ⇒ Σ n_c² ≈ N^1.5,
      // never corpus²), within-cell pairs score ONE hoisted-norm decimal
      // cosine each, each vector keeps its top-3 through the two-phase
      // TopKPerKey heap (exchange ≤ partitions·N·k rows, never the pair
      // stream), and the mutual flag is one self-join of the k·N edge
      // list on the reversed key. At 100 TB the assignment is the
      // bucketing column, so the pair join is co-located per cell.
      val knn = knnGraphEdges(s, dir)
        .localCheckpoint() // consumed twice: edges + reversed-edge probe
      withMutual(knn)
    }, oracle = knnGraphOracle),
    Query("v_knn_graph_probe", (s, dir) => {
      // PERSISTED-index lifecycle for the kNN graph (round-10 verdict ask
      // #4) — the IvfIndex.loadOrBuildSampled pattern on the graph
      // surface: construction is an offline indexing job, and every
      // downstream consumer (SemDeDup-style clustering, dup detection,
      // NN-Descent) pays only a parquet scan. Hash-equal to v_knn_graph
      // by construction (same oracle); within a session/bench, every call
      // after the first is scan-only.
      knnGraphLoadOrBuild(s, dir)
    }, oracle =
      // the persisted index IS the graph — identical replay, so probe
      // hash-equals rebuild (the v_knn_ivf/v_knn_ivf_probe precedent)
      knnGraphOracle),
    Query("v_knn_graph_append", (s, dir) => {
      // INCREMENTAL kNN-graph maintenance — the v_knn_ivf_append pattern
      // on the graph surface, completing its lifecycle (build:
      // v_knn_graph, serve: v_knn_graph_probe, append: here). A
      // newly-arrived batch (vec_id ≥ 256 ≡ 7 mod 16 — never a sampled
      // seed: nCells ≤ 245 at every gated SF) assigns against the FROZEN
      // seeds; only the CELLS THAT RECEIVED new vectors rebuild their
      // within-cell top-3 — untouched cells keep their offline edges
      // verbatim (cell-local edges + per-row-independent assignment make
      // the merge exact). The merged graph must equal a full rebuild,
      // proven under the rebuild's own oracle. At 100 TB this is the
      // graph's steady-state write path: an ingest batch pays
      // |affected cells|·E[cell]², never N^1.5.
      val e = emb(s, dir)
      val nCells = math.ceil(math.sqrt(e.count().toDouble)).toInt
      val isNew = col("vec_id") >= 256 && pmod(col("vec_id"), lit(16)) === 7
      val aAll = IvfIndex.assignSampled(e, "vec_id", "embedding", nCells)
        .withColumn("n2", Similarity.decNorm2(col("embedding")))
        .withColumn("is_new", isNew)
        .localCheckpoint() // consumed by base edges, affected set, merge
      val base = cellTopkEdges(aAll.filter(!col("is_new"))) // offline graph
      val affected = aAll.filter(col("is_new")).select("cell").distinct()
      val merged = base.join(broadcast(affected), Seq("cell"), "left_anti")
        .unionByName(cellTopkEdges(
          aAll.join(broadcast(affected), Seq("cell"), "left_semi")))
        .select("src", "dst", "c_raw")
        .localCheckpoint() // consumed twice by the mutual self-join
      withMutual(merged)
    }, oracle =
      // incrementally-maintained graph ≡ full rebuild: cell-local edges +
      // per-row-independent assignment, so the append path shares the
      // rebuild's oracle (the v_knn_ivf_append precedent)
      knnGraphOracle),
    Query("v_knn_descent", (s, dir) => {
      // NN-DESCENT refinement of the cell-blocked kNN graph (Dong et al.,
      // WWW'11) — the standard recall-recovery step every production
      // kNN-graph pipeline runs: cell blocking misses cross-cell true
      // neighbors; "a neighbor of my neighbor is likely my neighbor"
      // recovers them WITHOUT any corpus² pass. Three unrolled rounds
      // (the v_kmeans_iter fixed-round trajectory idiom — each round's
      // input is the previous round's output, so one hash gates the
      // whole trajectory): per
      // round (a) reverse edges capped at 3 per node (the reverse-sample
      // rate ρ of the paper — an in-hub node would otherwise fan its
      // whole in-list into every neighbor-of-neighbor join bucket),
      // (b) candidate pairs = two-hop join of the symmetrized edge list
      // (≤ (2k)² per node) ∪ current edges, (c) fresh decimal-exact
      // cosine per candidate (embeddings ride in on two key-equality
      // joins against hoisted norms), (d) re-heap through TopKPerKey.
      // Round cost is O(N·k²) candidate rows — never corpus². in_base
      // marks edges surviving from the round-0 blocked graph; recall
      // movement vs exact is gated by v_knn_descent_recall.
      val e = emb(s, dir)
        .withColumn("n2", Similarity.decNorm2(col("embedding")))
        .localCheckpoint() // scored against in both rounds
      val base = knnGraphEdges(s, dir).localCheckpoint()
      nnDescent(e, base, rounds = 3)
        .join(base.select(col("src"), col("dst"), lit(1).as("ib")),
          Seq("src", "dst"), "left")
        .select(col("src"), col("dst"), round(col("c_raw"), 6).as("cosine"),
          coalesce(col("ib"), lit(0)).cast("int").as("in_base"))
    }, oracle =
      // base-graph replay + 2 unrolled NN-Descent rounds (rev-capped
      // symmetrization, two-hop candidates, fresh decimal cosine,
      // row_number top-3 off the identical (c DESC, dst) total order),
      // then the in_base flag vs the round-0 edge set
      s"""WITH $knnGraphCtes
         ${(1 to 3).map(i => descentRoundSql(i)).mkString}
         SELECT f.src, f.dst, round(f.c, 6) AS cosine,
                CAST(CASE WHEN b.src IS NULL THEN 0 ELSE 1 END AS INTEGER)
                  AS in_base
         FROM t3 f LEFT JOIN t0 b ON b.src = f.src AND b.dst = f.dst"""),
    Query("v_knn_descent_recall", (s, dir) => {
      // the v_recall_eval acceptance gate applied to the GRAPH surface:
      // recall@3 of the blocked base graph and of the 3-round NN-Descent
      // refinement against the exact top-3, over a deterministic 1%
      // node sample (vec_id % 100 == 0). Exact truth is sample × corpus
      // through a constant-key BROADCAST HASH join (never corpus²; the
      // sample rate is the eval's scale knob). The refined candidate set
      // contains every base edge, so per-node refined cosine dominates
      // base and recall_gain >= 0 is an invariant the hash also witnesses.
      val e = emb(s, dir)
        .withColumn("n2", Similarity.decNorm2(col("embedding")))
        .localCheckpoint()
      val base = knnGraphEdges(s, dir).localCheckpoint()
      val refined = nnDescent(e, base, rounds = 3)
      val sample = e.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("src"), col("embedding").as("se"),
          col("n2").as("sn"))
      val pairs = e.select(col("vec_id").as("dst"), col("embedding"),
          col("n2")).withColumn("one", lit(1))
        .join(broadcast(sample.withColumn("one", lit(1))), "one")
        .filter(col("dst") =!= col("src"))
        .select(col("src"), col("dst"),
          Similarity.cosineFromParts(
            Similarity.decDot(col("se"), col("embedding")),
            col("sn"), col("n2")).as("c_raw"))
      val exact = org.apache.spark.sql.GraftPlanBridge.topKPerKey(pairs,
          Seq("src"), Seq("c_raw" -> false, "dst" -> true), 3)
        .localCheckpoint()
      val sampIds = sample.select("src")
      def decSum(df: DataFrame, as: String) = df.agg(
        sum(col("c_raw").cast(DecimalType(28, 16))).cast("double").as(as))
      val ns = sample.agg(count(lit(1)).as("n_sampled"))
      val sl = exact.agg(count(lit(1)).as("n_slots"))
      val bh = exact.join(base.select("src", "dst"),
        Seq("src", "dst"), "left_semi").agg(count(lit(1)).as("base_hits"))
      val rh = exact.join(refined.select("src", "dst"),
        Seq("src", "dst"), "left_semi").agg(count(lit(1)).as("refined_hits"))
      // similarity-mass effectiveness@3 (the ANN literature's relative
      // similarity ratio): Σ found cosines / Σ exact cosines over the
      // sample — recall@3 is SET membership and cannot move when the true
      // and found neighbors differ by 1e-3 of cosine (this corpus's weak-
      // neighbor region is near-uniform); effectiveness measures the
      // convergence the refinement actually buys. Decimal-exact sums.
      val es = decSum(exact, "exact_mass")
      val bs = decSum(base.join(broadcast(sampIds), Seq("src"), "left_semi"),
        "base_mass")
      val rs = decSum(refined.join(broadcast(sampIds), Seq("src"),
        "left_semi"), "refined_mass")
      // 1-row stat frames composed via sanctioned broadcast crossJoins
      ns.crossJoin(broadcast(sl)).crossJoin(broadcast(bh))
        .crossJoin(broadcast(rh)).crossJoin(broadcast(es))
        .crossJoin(broadcast(bs)).crossJoin(broadcast(rs))
        .select(col("n_sampled"), col("n_slots"), col("base_hits"),
          col("refined_hits"),
          round(col("base_hits").cast("double") / col("n_slots"), 6)
            .as("base_recall"),
          round(col("refined_hits").cast("double") / col("n_slots"), 6)
            .as("refined_recall"),
          round((col("refined_hits") - col("base_hits")).cast("double") /
            col("n_slots"), 6).as("recall_gain"),
          round(col("base_mass") / col("exact_mass"), 6).as("base_eff"),
          round(col("refined_mass") / col("exact_mass"), 6)
            .as("refined_eff"),
          round((col("refined_mass") - col("base_mass")) /
            col("exact_mass"), 6).as("eff_gain"))
    }, oracle =
      // exact top-3 for the 1% node sample (sample × corpus inequality
      // join — the eval's scale knob), hit counts vs round-0 and round-2
      // edge sets, recall@3 aggregate
      s"""WITH $knnGraphCtes
         ${(1 to 3).map(i => descentRoundSql(i)).mkString},
         samp AS (SELECT vec_id AS src, embedding AS se FROM embeddings
                  WHERE vec_id % 100 = 0),
         xu AS (SELECT s.src, e.vec_id AS dst,
                       unnest(s.se) AS x, unnest(e.embedding) AS y
                FROM samp s JOIN embeddings e ON e.vec_id <> s.src),
         xd AS (SELECT src, dst,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot
                FROM xu GROUP BY 1, 2),
         exact AS MATERIALIZED (SELECT src, dst, c FROM (
             SELECT xd.src, xd.dst,
                    xd.dot/greatest(sqrt(na.n2)*sqrt(nb.n2), 1e-12) AS c,
                    row_number() OVER (PARTITION BY xd.src ORDER BY
                      xd.dot/greatest(sqrt(na.n2)*sqrt(nb.n2), 1e-12) DESC,
                      xd.dst ASC) AS rn
             FROM xd JOIN norms na ON na.vec_id = xd.src
                     JOIN norms nb ON nb.vec_id = xd.dst) WHERE rn <= 3),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sampled FROM samp),
         sl AS (SELECT CAST(count(*) AS BIGINT) AS n_slots FROM exact),
         bh AS (SELECT CAST(count(*) AS BIGINT) AS base_hits
                FROM exact x JOIN t0 b ON b.src = x.src AND b.dst = x.dst),
         rh AS (SELECT CAST(count(*) AS BIGINT) AS refined_hits
                FROM exact x JOIN t3 r ON r.src = x.src AND r.dst = x.dst),
         es AS (SELECT CAST(sum(CAST(c AS DECIMAL(28,16))) AS DOUBLE)
                  AS exact_mass FROM exact),
         bs AS (SELECT CAST(sum(CAST(b.c AS DECIMAL(28,16))) AS DOUBLE)
                  AS base_mass FROM t0 b JOIN samp s ON s.src = b.src),
         rs AS (SELECT CAST(sum(CAST(r.c AS DECIMAL(28,16))) AS DOUBLE)
                  AS refined_mass FROM t3 r JOIN samp s ON s.src = r.src)
         SELECT ns.n_sampled, sl.n_slots, bh.base_hits, rh.refined_hits,
                round(bh.base_hits*1.0/sl.n_slots, 6) AS base_recall,
                round(rh.refined_hits*1.0/sl.n_slots, 6) AS refined_recall,
                round((rh.refined_hits - bh.base_hits)*1.0/sl.n_slots, 6)
                  AS recall_gain,
                round(bs.base_mass/es.exact_mass, 6) AS base_eff,
                round(rs.refined_mass/es.exact_mass, 6) AS refined_eff,
                round((rs.refined_mass - bs.base_mass)/es.exact_mass, 6)
                  AS eff_gain
         FROM ns, sl, bh, rh, es, bs, rs"""),
    Query("v_knn_descent_conv", (s, dir) => {
      // CONVERGENCE-TERMINATED NN-Descent (round-11 verdict ask #4): the
      // paper's own stopping rule — stop when a round's update count
      // drops below δ·N·k (Dong et al. WWW'11 §2.3; δ = 0.12 here) — as
      // a pure-integer changed-edge test per round, the kcorePeelConv
      // idiom on the FIFTH iterative family (v_kmeans_conv,
      // g_pagerank_conv, g_bfs_conv, g_kcore_conv precedents; integer
      // count, so no FP-tolerance subtlety). Unlike the fixed-3-round
      // v_knn_descent, rounds run only until the fresh-probe churn floor:
      // measured stop rounds 5/4/1 at sf0.001/0.01/0.1 (cap 6, never
      // hit — the larger the corpus, the better the cell-blocked base
      // graph, so random probes beat a held top-3 less often and the
      // stop comes EARLIER; δ sits above the measured churn floor
      // ~0.06-0.10 and below the active-refinement band ~0.13-0.18). The
      // oracle replays all cap rounds and picks the first sub-threshold
      // one, so the engine's early exit is hash-proved equivalent. The
      // threshold is INTEGER arithmetic (N·36/100, = δ·N·k with k=3) so
      // engine and oracle can never disagree on a float rounding.
      val e = emb(s, dir)
        .withColumn("n2", Similarity.decNorm2(col("embedding")))
        .localCheckpoint()
      val base = knnGraphEdges(s, dir).localCheckpoint()
      val n = e.count()
      val (g, stop) = nnDescentConv(e, base, maxRounds = 6,
        nB = math.max(n / 16L, 1L), thr = math.max(n * 36L / 100L, 1L))
      g.select(col("src"), col("dst"), round(col("c_raw"), 6).as("cosine"),
        lit(stop).cast("int").as("stop_round"))
    }, oracle =
      // convergence-terminated descent: replay ALL cap rounds, count each
      // round's new edges (t_i \\ t_{i-1}), and select the FIRST round
      // whose count drops below the integer threshold N*36/100 (= delta*N*k,
      // delta=0.12, k=3) — the engine computes rounds lazily and stops
      // there, so the hash proves the early exit picks the same graph
      s"""WITH $knnGraphCtes
         ${(1 to 6).map(i => descentRoundSql(i)).mkString},
         thr AS (SELECT greatest(count(*) * 36 // 100, 1) AS t
                 FROM embeddings),
         ${(1 to 6).map(i =>
           s"""chg$i AS (SELECT CAST(count(*) AS BIGINT) AS c
               FROM t$i a LEFT JOIN t${i - 1} b
                 ON b.src = a.src AND b.dst = a.dst
               WHERE b.src IS NULL)""").mkString(",\n         ")},
         stop AS (SELECT CASE
           ${(1 to 6).map(i =>
             s"WHEN (SELECT c FROM chg$i) < (SELECT t FROM thr) THEN $i")
             .mkString("\n           ")}
           ELSE 6 END AS r)
         ${(1 to 6).map(i =>
           s"""SELECT src, dst, round(c, 6) AS cosine,
               CAST($i AS INTEGER) AS stop_round
               FROM t$i WHERE (SELECT r FROM stop) = $i""")
           .mkString("\n         UNION ALL\n         ")}"""),
    Query("v_knn_descent_append", (s, dir) => {
      // INCREMENTAL NN-DESCENT after a batch append — the lifecycle
      // composed with refinement (round-11 verdict ask #8): the
      // v_knn_graph_append proof one level up. Semantics = the
      // FULL-corpus 3-round descent with the probe modulus FROZEN at the
      // offline build's base-corpus value (a deployment freezes index
      // hyperparameters at build time and refreshes them at full
      // rebuilds; an N-derived modulus would reshuffle every probe
      // bucket on any append, making nothing reusable — the reason
      // descentBuckets takes nB as a parameter). The engine holds the
      // offline base-corpus round artifacts and, per round, re-scores
      // ONLY the exactly-derived affected node set
      // (descentRoundIncremental: sym-diff ∪ two-hop second leg ∪
      // probe-buckets-with-new-vectors ∪ previous-round diff), copying
      // every other node's edges verbatim; the oracle replays the full
      // rebuild+descent with the same frozen modulus, so the hash PROVES
      // incremental ≡ rebuild. Batch cost: linear sym/probe passes plus
      // O(|affected|·k²) scoring — never the rebuild's O(N·k²); at
      // production scale |affected| ≈ the batch's sym-neighborhood.
      // The AFFECTED FRACTION is set by the batch fraction f, not N: a
      // node is probe-affected iff its ~B≈16-vector random bucket holds
      // a new vector, P = 1−(1−f)^B. The original 1-in-16 fixture
      // (f=6.3% ⇒ P≈0.64) re-scored most of the corpus every round and
      // measured 2.5× SLOWER than the full rebuild at sf1 — past the
      // incremental/rebuild crossover, where a deployment would rebuild.
      // 1-in-256 (f=0.4% ⇒ P≈6%) sits on the incremental side while the
      // equivalence gate (oracle = full rebuild) is fraction-invariant.
      val isNew = col("vec_id") >= 256 && pmod(col("vec_id"), lit(256)) === 7
      val e = emb(s, dir)
        .withColumn("n2", Similarity.decNorm2(col("embedding")))
        .withColumn("is_new", isNew)
        .localCheckpoint()
      val nCells = math.ceil(math.sqrt(e.count().toDouble)).toInt
      val aAll = IvfIndex.assignSampled(e, "vec_id", "embedding", nCells)
        .withColumn("n2", Similarity.decNorm2(col("embedding")))
        .withColumn("is_new", isNew)
        .localCheckpoint()
      val eB = e.filter(!col("is_new"))
      val nBfrozen = math.max(eB.count() / 16L, 1L)
      // the OFFLINE artifacts (base-corpus cell graph + the three offline
      // descent-round graphs) load from the persisted index — a
      // deployment runs the O(N·k²) offline descent at build time, and
      // the append path only loads it (the v_knn_graph_probe lifecycle);
      // recomputing them inline made this query pay the very rebuild the
      // incremental path exists to avoid. Content-fingerprinted + atomic.
      val (base0, baseRounds) = descentOfflineLoadOrBuild(s, dir,
        eB, aAll.filter(!col("is_new")), nBfrozen, nCells)
      val affected = aAll.filter(col("is_new")).select("cell").distinct()
      val t0base = base0.select("src", "dst", "c_raw")
      val t0full = base0.join(broadcast(affected), Seq("cell"), "left_anti")
        .unionByName(cellTopkEdges(
          aAll.join(broadcast(affected), Seq("cell"), "left_semi")))
        .select("src", "dst", "c_raw")
        .localCheckpoint()
      val newIds = e.filter(col("is_new")).select("vec_id")
      var curBase = t0base
      var curFull = t0full
      var changed = diffNodes(t0full, t0base).localCheckpoint()
      for (i <- 1 to 3) {
        val baseNext = baseRounds(i - 1)
        val (nf, ch) = descentRoundIncremental(e, newIds, s"d$i", nBfrozen,
          curFull, curBase, baseNext, changed)
        curBase = baseNext; curFull = nf; changed = ch
      }
      curFull.select(col("src"), col("dst"),
        round(col("c_raw"), 6).as("cosine"))
    }, oracle =
      // incrementally-maintained descent ≡ full rebuild+descent: the
      // oracle replays the FULL-corpus blocked graph + 3 descent rounds
      // with the probe modulus FROZEN at the base-corpus count (the
      // engine's offline-build contract) — the v_knn_graph_append
      // shared-oracle precedent, one lifecycle level up
      s"""WITH $knnGraphCtes
         ${(1 to 3).map(i => descentRoundSql(i,
           """(SELECT greatest(count(*) // 16, 1) FROM embeddings
              WHERE NOT (vec_id >= 256 AND vec_id % 256 = 7))""")).mkString}
         SELECT f.src, f.dst, round(f.c, 6) AS cosine FROM t3 f""")
  )

  /** One NN-Descent oracle round: reverse edges capped at 3 per node,
    * symmetrized distinct edge set, two-hop candidates ∪ current edges,
    * fresh decimal-exact cosine, row_number top-3 — the exact mirror of
    * [[nnDescent]]'s per-round plan. */
  private def descentRoundSql(
      i: Int,
      nbSql: String = "(SELECT greatest(count(*) // 16, 1) FROM embeddings)")
      : String =
    s""",
       rev$i AS (SELECT * FROM (
           SELECT t.dst AS src, t.src AS dst, t.c,
                  row_number() OVER (PARTITION BY t.dst
                    ORDER BY t.c DESC, t.src ASC) AS rn
           FROM t${i - 1} t) WHERE rn <= 3),
       sym$i AS (SELECT DISTINCT src, dst FROM (
           SELECT src, dst FROM t${i - 1}
           UNION ALL SELECT src, dst FROM rev$i)),
       rb$i AS (SELECT vec_id,
                  ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || 'd$i'), 1, 12))::BIGINT
                    % $nbSql AS bk
                FROM embeddings),
       rp$i AS (SELECT a.vec_id AS src, b.vec_id AS dst
                FROM rb$i a JOIN rb$i b
                  ON a.bk = b.bk AND a.vec_id <> b.vec_id),
       cand$i AS (SELECT DISTINCT src, dst FROM (
           SELECT x.src, y.dst FROM sym$i x JOIN sym$i y ON x.dst = y.src
           UNION ALL SELECT src, dst FROM t${i - 1}
           UNION ALL SELECT src, dst FROM rp$i) WHERE src <> dst),
       cu$i AS (SELECT c.src, c.dst,
                  unnest(ae.embedding) AS x, unnest(be.embedding) AS y
                FROM cand$i c JOIN embeddings ae ON ae.vec_id = c.src
                              JOIN embeddings be ON be.vec_id = c.dst),
       cd$i AS (SELECT src, dst,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot
                FROM cu$i GROUP BY 1, 2),
       t$i AS MATERIALIZED (SELECT src, dst, c FROM (
           SELECT cd.src, cd.dst,
                  cd.dot/greatest(sqrt(na.n2)*sqrt(nb.n2), 1e-12) AS c,
                  row_number() OVER (PARTITION BY cd.src ORDER BY
                    cd.dot/greatest(sqrt(na.n2)*sqrt(nb.n2), 1e-12) DESC,
                    cd.dst ASC) AS rn
           FROM cd$i cd JOIN norms na ON na.vec_id = cd.src
                        JOIN norms nb ON nb.vec_id = cd.dst) WHERE rn <= 3)"""

  /** The cell-blocked base-graph CTE chain shared by v_knn_graph /
    * v_knn_graph_probe / v_knn_descent / v_knn_descent_recall: the
    * v_semdedup_scaled assignment replay (nCells = ceil(sqrt(N))),
    * per-pair decimal dot + hoisted norms, row_number top-3 per src off
    * the identical (unrounded cosine, dst) total order → t0. */
  private lazy val knnGraphCtes: String =
    """k AS (SELECT ceil(sqrt(count(*))) AS nc FROM embeddings),
         seeds AS (SELECT CAST(vec_id AS INTEGER) AS cell, embedding AS ce
                   FROM embeddings WHERE vec_id < (SELECT nc FROM k)),
         pu AS (SELECT e.vec_id, s.cell, unnest(e.embedding) AS x, unnest(s.ce) AS y
                FROM embeddings e CROSS JOIN seeds s),
         pd AS (SELECT vec_id, cell,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot,
                  CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
                FROM pu GROUP BY 1, 2),
         cn AS (SELECT cell,
                  CAST(sum(CAST(CAST(y AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS c2
                FROM (SELECT cell, unnest(ce) AS y FROM seeds) GROUP BY 1),
         cc AS (SELECT vec_id, pd.cell, dot/greatest(sqrt(n2)*sqrt(c2), 1e-12) AS c
                FROM pd JOIN cn ON pd.cell = cn.cell),
         assigned AS MATERIALIZED (
           SELECT vec_id, -((max(struct_pack(c := c, nc := -cell))).nc) AS cell
           FROM cc GROUP BY 1),
         norms AS (SELECT vec_id,
                     CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(x AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS n2
                   FROM (SELECT vec_id, unnest(embedding) AS x FROM embeddings)
                   GROUP BY 1),
         pu2 AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                   unnest(ae.embedding) AS x, unnest(be.embedding) AS y
                 FROM assigned a JOIN assigned b
                   ON a.cell = b.cell AND a.vec_id <> b.vec_id
                 JOIN embeddings ae ON ae.vec_id = a.vec_id
                 JOIN embeddings be ON be.vec_id = b.vec_id),
         pdot AS (SELECT src, dst,
                    CAST(sum(CAST(CAST(x AS DOUBLE)*CAST(y AS DOUBLE) AS DECIMAL(28,16))) AS DOUBLE) AS dot
                  FROM pu2 GROUP BY 1, 2),
         sc AS (SELECT src, dst,
                  dot/greatest(sqrt(na.n2)*sqrt(nb.n2), 1e-12) AS c
                FROM pdot JOIN norms na ON na.vec_id = src
                          JOIN norms nb ON nb.vec_id = dst),
         knn AS (SELECT src, dst, c,
                   row_number() OVER (PARTITION BY src
                     ORDER BY c DESC, dst ASC) AS rn
                 FROM sc),
         t0 AS MATERIALIZED (SELECT src, dst, c FROM knn WHERE rn <= 3)"""

  /** Full v_knn_graph oracle: base CTE chain + mutual flag via the
    * reversed-key self-join. */
  private lazy val knnGraphOracle: String =
    s"""WITH $knnGraphCtes
         SELECT t.src, t.dst, round(t.c, 6) AS cosine,
                CAST(CASE WHEN m.src IS NULL THEN 0 ELSE 1 END AS INTEGER)
                  AS mutual
         FROM t0 t LEFT JOIN t0 m ON m.src = t.dst AND m.dst = t.src"""
}
