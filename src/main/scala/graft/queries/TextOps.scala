package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, IntegerType, LongType}

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Components, TextDedup}

/** Text analysis + document dedup surface over the `documents` table —
  * the LLM-training-data-pipeline operators (token counting, quality
  * scoring, language ID, fingerprinting, exact/fuzzy dedup).
  *
  * Shares the determinism contract of [[Core]]: integer/ratio arithmetic
  * only (single IEEE division per ratio), md5-based hashing available
  * identically in the DuckDB oracle, rational threshold predicates
  * (`num*inter >= den*union`) instead of float thresholds.
  */
object TextOps {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Maximal duplicated token spans (Lee et al. exact-substring dedup at
    * window length 8): positional windows, global occurrence >= 2,
    * overlapping duplicated windows merged by gaps-and-islands. Shared by
    * d_dup_span_extract (the report) and d_dedup_cut (the applied cut). */
  private def dupSpans(d: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = d
      .select(col("doc_id"), posexplode(
        TextFunctions.ngrams(TextFunctions.tokens(col("text")), 8)))
      .toDF("doc_id", "pos", "g")
    val freq = wins.groupBy("g").agg(count(lit(1)).as("occ"))
    val dup = wins.join(freq.filter(col("occ") >= 2), "g")
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val prevEnd = max(col("pos") + 7)
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("ni",
        when(col("pos") > coalesce(prevEnd, lit(-1L)), 1L).otherwise(0L))
      .withColumn("island", sum(col("ni"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + 7).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Greedy LEFT-TO-RIGHT non-overlapping application of ONE BPE merge
    * (a, b) to positional symbol sequences (doc_id, pos, sym) — the
    * corpus-rewrite step of t_bpe_train, shared with t_bpe_encode's
    * apply-only path: match positions → consecutive-run islands
    * (gaps-and-islands) → keep every EVEN offset within its island
    * (exactly the greedy scan's picks, incl. the a==b chain case) → drop
    * each absorbed right symbol, reindex. Every window partitions by
    * doc_id, so the corpus shuffles ONCE per call on the doc key and
    * Spark reuses that exchange across the windows; rewrite joins are
    * match-sized. */
  private def bpeApplyMerge(seqs: DataFrame, a: String, b: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wPos = Window.partitionBy("doc_id").orderBy("pos")
    val matches = seqs
      .withColumn("nxt", lead(col("sym"), 1).over(wPos))
      .filter(col("sym") === a && col("nxt") === b)
      .withColumn("island", col("pos") - row_number().over(wPos))
      .withColumn("applied",
        ((col("pos") - min(col("pos")).over(
          Window.partitionBy("doc_id", "island"))) % 2) === 0)
      .filter(col("applied"))
      .select(col("doc_id"), col("pos").as("apos"))
    val isA = matches.select(col("doc_id"),
      col("apos").as("pos"), lit(1).as("is_a"))
    val isB = matches.select(col("doc_id"),
      (col("apos") + 1).as("pos"), lit(1).as("is_b"))
    seqs
      .join(isA, Seq("doc_id", "pos"), "left")
      .join(isB, Seq("doc_id", "pos"), "left")
      .filter(col("is_b").isNull)
      .withColumn("sym", when(col("is_a") === 1,
        concat(col("sym"), lit("+"), lit(b))).otherwise(col("sym")))
      .withColumn("pos", (row_number().over(wPos) - 1).cast(LongType))
      .select("doc_id", "pos", "sym")
  }

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "es" -> Seq("el", "la", "los", "es", "y"),
    "fr" -> Seq("le", "les", "des", "et", "est"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "zh" -> Seq("de0", "shi4", "le0", "zai4", "wo3"))

  /** One marker-hit count column per language (n_en, n_es, ...). */
  private def withMarkerCounts(df: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    langMarkers.foldLeft(df) { case (acc, (lang, markers)) =>
      acc.withColumn(s"n_$lang", TextFunctions.markerCount(toks, markers))
    }
  }

  /** Majority-marker language vote (one CASE chain, same as the oracle),
    * abstracted over where the per-language counts come from. */
  private def predLangFrom(n: String => Column): Column =
    when(n("zh") > greatest(n("en"), n("es"), n("fr"), n("de")), "zh")
      .when(n("de") > greatest(n("en"), n("es"), n("fr")), "de")
      .when(n("fr") > greatest(n("en"), n("es")), "fr")
      .when(n("es") > n("en"), "es")
      .otherwise("en")

  /** Vote over the n_* count columns of [[withMarkerCounts]] (t_langid,
    * whose contract exposes the individual counts). */
  private def predLang: Column = predLangFrom(l => col(s"n_$l"))

  /** Vote as ONE let-bound expression: tokenizes once per row and computes
    * every marker count over the bound array — for consumers that only
    * need the final vote (t_curate), where per-count columns would each
    * re-inline their own split(text). */
  private def predLangOf(text: Column): Column = {
    val markers = langMarkers.toMap
    TextFunctions.bind(TextFunctions.tokens(text)) { tk =>
      predLangFrom(l => TextFunctions.markerCount(tk, markers(l)))
    }
  }

  private def clustersVia(s: SparkSession, dir: String,
      cc: (DataFrame, String, String) => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prs = TextDedup.simhashPairs(docs(s, dir), "doc_id", "text", 2)
      .select("doc_a", "doc_b")
    cc(prs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }

  private val shingleSql =
    """sh AS (
         SELECT doc_id, unnest(list_distinct(list_transform(
                  generate_series(1, len(toks)-2),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
         FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         WHERE len(toks) >= 3)"""

  val queries: Seq[Query] = Seq(
    Query("t_tokens", (s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("char_len"),
        size(TextFunctions.tokens(col("text"))).as("n_ws_tokens"),
        TextFunctions.bpeTokenCount(col("text")).as("n_bpe_tokens"))
    }, oracle =
      """SELECT doc_id, CAST(length(text) AS INTEGER) AS char_len,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
                CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS n_bpe_tokens
         FROM documents"""),
    Query("t_quality", (s, dir) => {
      // NB each derived column re-splits text (3 splits/row): acceptable
      // for short docs; TextFunctions.bind can't share across sibling
      // columns (SimplifyExtractValueOps re-inlines struct fields)
      val toks = TextFunctions.tokens(col("text"))
      docs(s, dir)
        .withColumn("n_tokens", size(toks))
        .withColumn("n_uniq", size(array_distinct(toks)))
        .withColumn("n_stop", TextFunctions.markerCount(toks, Seq("the", "a")))
        .select(
          col("doc_id"), col("n_tokens"), col("n_uniq"), col("n_stop"),
          round(length(regexp_replace(col("text"), lit(" "), lit("")))
            .cast("double") / col("n_tokens"), 6).as("avg_token_len"),
          round(col("n_stop").cast("double") / col("n_tokens"), 6).as("stop_ratio"),
          round((col("n_uniq").cast("double") / col("n_tokens")) *
            when(col("n_tokens").between(20, 400), 1.0).otherwise(0.5), 6)
            .as("quality_score"))
    }, oracle =
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, text,
                      CAST(len(toks) AS INTEGER) AS n_tokens,
                      CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
                      CAST(len(list_filter(toks, x -> x IN ('the', 'a'))) AS INTEGER) AS n_stop
               FROM t)
         SELECT doc_id, n_tokens, n_uniq, n_stop,
                round(CAST(length(replace(text, ' ', '')) AS DOUBLE)/n_tokens, 6) AS avg_token_len,
                round(CAST(n_stop AS DOUBLE)/n_tokens, 6) AS stop_ratio,
                round((CAST(n_uniq AS DOUBLE)/n_tokens) *
                      (CASE WHEN n_tokens BETWEEN 20 AND 400 THEN 1.0 ELSE 0.5 END), 6) AS quality_score
         FROM c"""),
    Query("t_gopher_rules", (s, dir) => {
      // the Gopher quality-filter rule suite (Rae et al. 2021, §A1.1 —
      // public recipe) as explicit per-rule flags + the conjunction:
      // 50 ≤ word count ≤ 100k, 3 ≤ mean word length ≤ 10, ≥ 2 stopword
      // hits. Shipping the FLAGS (not just the survivors) is the
      // production shape: rule-level ablation/monitoring needs per-rule
      // pass rates, and the conjunction is recomputable downstream. On
      // this corpus the word-count and stopword rules differentiate
      // (284/500 and 388/500 at sf0.01); mean-word-length is vacuously
      // true here but is the published threshold and stays. All per-row
      // integer/ratio arithmetic fused into the scan — the same
      // one-pass-no-shuffle shape as t_quality; at 100 TB this is a
      // pure map stage. Boundary determinism: mean_word_len is ONE IEEE
      // division of exact ints, so the BETWEEN edges cannot diverge.
      val toks = TextFunctions.tokens(col("text"))
      docs(s, dir)
        .withColumn("n_words", size(toks))
        .withColumn("n_stop",
          TextFunctions.markerCount(toks, Seq("the", "a", "of", "to", "and")))
        .withColumn("mean_word_len",
          length(regexp_replace(col("text"), lit(" "), lit("")))
            .cast("double") / col("n_words"))
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"), col("n_stop"),
          col("n_words").between(50, 100000).cast("int").as("r_word_count"),
          col("mean_word_len").between(3.0, 10.0).cast("int").as("r_mean_len"),
          (col("n_stop") >= 2).cast("int").as("r_stopwords"),
          (col("n_words").between(50, 100000) &&
            col("mean_word_len").between(3.0, 10.0) &&
            col("n_stop") >= 2).cast("int").as("keep"))
    }, oracle =
      // identical rule arithmetic: integer word/stopword counts, the
      // single-division mean word length, BETWEEN on identical doubles
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id,
                 CAST(len(toks) AS INTEGER) AS n_words,
                 CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(toks)
                   AS mwl,
                 CAST(len(list_filter(toks,
                   x -> x IN ('the', 'a', 'of', 'to', 'and'))) AS INTEGER)
                   AS n_stop
               FROM t)
         SELECT doc_id, n_words, round(mwl, 6) AS mean_word_len, n_stop,
                CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                     THEN 1 ELSE 0 END AS INTEGER) AS r_word_count,
                CAST(CASE WHEN mwl BETWEEN 3.0 AND 10.0
                     THEN 1 ELSE 0 END AS INTEGER) AS r_mean_len,
                CAST(CASE WHEN n_stop >= 2
                     THEN 1 ELSE 0 END AS INTEGER) AS r_stopwords,
                CAST(CASE WHEN n_words BETWEEN 50 AND 100000
                          AND mwl BETWEEN 3.0 AND 10.0
                          AND n_stop >= 2
                     THEN 1 ELSE 0 END AS INTEGER) AS keep
         FROM c"""),
    Query("t_langid", (s, dir) => {
      withMarkerCounts(docs(s, dir)).select(
          col("doc_id"), col("lang"),
          col("n_en"), col("n_es"), col("n_fr"), col("n_de"), col("n_zh"),
          predLang.as("pred_lang"))
        .withColumn("is_match", col("pred_lang") === col("lang"))
    }, oracle =
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, lang,
                 CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS INTEGER) AS n_en,
                 CAST(len(list_filter(toks, x -> x IN ('el','la','los','es','y'))) AS INTEGER) AS n_es,
                 CAST(len(list_filter(toks, x -> x IN ('le','les','des','et','est'))) AS INTEGER) AS n_fr,
                 CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS INTEGER) AS n_de,
                 CAST(len(list_filter(toks, x -> x IN ('de0','shi4','le0','zai4','wo3'))) AS INTEGER) AS n_zh
               FROM t)
         SELECT doc_id, lang, n_en, n_es, n_fr, n_de, n_zh,
                CASE WHEN n_zh > greatest(n_en, n_es, n_fr, n_de) THEN 'zh'
                     WHEN n_de > greatest(n_en, n_es, n_fr) THEN 'de'
                     WHEN n_fr > greatest(n_en, n_es) THEN 'fr'
                     WHEN n_es > n_en THEN 'es'
                     ELSE 'en' END AS pred_lang,
                (CASE WHEN n_zh > greatest(n_en, n_es, n_fr, n_de) THEN 'zh'
                      WHEN n_de > greatest(n_en, n_es, n_fr) THEN 'de'
                      WHEN n_fr > greatest(n_en, n_es) THEN 'fr'
                      WHEN n_es > n_en THEN 'es'
                      ELSE 'en' END) = lang AS is_match
         FROM c"""),
    Query("t_curate", (s, dir) => {
      // flagship curation composition — the full "raw corpus → training
      // corpus" chain as ONE declarative plan: canonical copy of each
      // exact-duplicate group, predicted-English only, token-count window.
      // Every stage is a relational op Catalyst fuses/prunes; nothing
      // collects, so the same plan curates at any corpus size.
      val d = docs(s, dir)
      val canonical = TextDedup.exactGroups(d, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      d.join(canonical, Seq("doc_id"), "left_semi")
        .withColumn("pred_lang", predLangOf(col("text")))
        .withColumn("n_tokens", size(TextFunctions.tokens(col("text"))))
        .filter(col("pred_lang") === "en" && col("n_tokens").between(20, 80))
        .select("doc_id", "lang", "n_tokens")
    }, oracle =
      // replays the curation chain: exact-dedup canonical survivors →
      // marker-vote language prediction (same CASE chain as t_langid) →
      // predicted-en + token-window filters
      """WITH keep AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
         t AS (SELECT d.doc_id, d.lang, string_split(d.text, ' ') AS toks
               FROM documents d JOIN keep USING (doc_id)),
         c AS (SELECT doc_id, lang,
                 CAST(len(toks) AS INTEGER) AS n_tokens,
                 len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS n_en,
                 len(list_filter(toks, x -> x IN ('el','la','los','es','y'))) AS n_es,
                 len(list_filter(toks, x -> x IN ('le','les','des','et','est'))) AS n_fr,
                 len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS n_de,
                 len(list_filter(toks, x -> x IN ('de0','shi4','le0','zai4','wo3'))) AS n_zh
               FROM t)
         SELECT doc_id, lang, n_tokens FROM c
         WHERE (CASE WHEN n_zh > greatest(n_en, n_es, n_fr, n_de) THEN 'zh'
                     WHEN n_de > greatest(n_en, n_es, n_fr) THEN 'de'
                     WHEN n_fr > greatest(n_en, n_es) THEN 'fr'
                     WHEN n_es > n_en THEN 'es'
                     ELSE 'en' END) = 'en'
           AND n_tokens BETWEEN 20 AND 80"""),
    Query("t_freq_quality", (s, dir) => {
      // corpus-statistics quality signal: mean corpus-frequency ratio of a
      // doc's tokens (rare-token-heavy docs score low) — the shape of
      // frequency-based LLM data filters. Corpus stats join back to docs;
      // ratios go through DECIMAL(28,18) so the mean is order-independent.
      // `toks` fans out to TWO consumers (the corpus aggregate and the join
      // probe side); without a barrier Catalyst inlines the tokenize+explode
      // into both subtrees and runs it twice. The repartition exchange is a
      // materialization point ReuseExchange shares across both consumers —
      // the same idiom as TextDedup.scala (shingle fan-out).
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .repartition(col("doc_id"))
      val corpus = toks.groupBy("tok").agg(count(lit(1)).as("tok_freq"))
      // corpus-total derived FROM the corpus aggregate (broadcast 1-row
      // frame), not a separate full pass over toks — one less corpus scan
      val total = corpus.agg(sum("tok_freq").cast("double").as("total_toks"))
      toks.join(corpus, "tok")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum((col("tok_freq").cast("double") / col("total_toks"))
            .cast(org.apache.spark.sql.types.DecimalType(28, 18))).as("sum_ratio"))
        .select(col("doc_id"), col("n_tokens"),
          round(col("sum_ratio").cast("double") / col("n_tokens"), 9).as("mean_freq_ratio"))
    }, oracle =
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         corpus AS (SELECT tok, count(*) AS tok_freq FROM toks GROUP BY tok),
         total AS (SELECT count(*) AS n FROM toks)
         SELECT doc_id, count(*) AS n_tokens,
                round(CAST(sum(CAST(CAST(tok_freq AS DOUBLE)/total.n AS DECIMAL(28,18))) AS DOUBLE)
                      / count(*), 9) AS mean_freq_ratio
         FROM toks JOIN corpus USING (tok), total
         GROUP BY doc_id"""),
    Query("t_winnow", (s, dir) => {
      // winnowing fingerprints: 3-gram md5 hashes, window-4 minima.
      // docs shorter than n+w-1 tokens excluded in both engines.
      // Native codegen'd WinnowExpr — byte-identical to the interpreted
      // TextFunctions.winnow (asserted in NativeWinnowSpec), ~10× less
      // per-row overhead.
      graft.functions.NativeTextFunctions.register(s)
      docs(s, dir)
        .filter(size(TextFunctions.tokens(col("text"))) >= 6)
        .select(col("doc_id"),
          explode(call_function("graft_winnow",
            TextFunctions.tokens(col("text")), lit(3), lit(4))).as("fp"))
    }, oracle =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id,
                      list_transform(generate_series(1, len(toks) - 2),
                        i -> md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS hs
               FROM t WHERE len(toks) >= 6)
         SELECT doc_id,
                unnest(list_distinct(list_transform(generate_series(1, len(hs) - 3),
                  i -> list_aggregate(hs[i:i+3], 'min')))) AS fp
         FROM g"""),
    Query("t_fingerprint", (s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("fp"),
        substring(TextFunctions.fingerprint(col("text")), 1, 8).as("fp_prefix"))
    }, oracle =
      """SELECT doc_id, md5(trim(lower(text))) AS fp,
                substr(md5(trim(lower(text))), 1, 8) AS fp_prefix
         FROM documents"""),
    Query("t_source_quota", (s, dir) => {
      // per-source document cap — the web-pipeline "domain quota": no
      // single source/domain may contribute more than K docs to the
      // training mix; survivors are the source's best by token count
      // (doc_id tie-break → total order). Runs through the two-phase
      // TopKPerKey operator, so the quota is enforced with bounded heaps —
      // the exchange carries at most partitions·sources·K rows and no
      // source's full document list is ever sorted (the row_number window
      // formulation sorts every group; the oracle replays exactly that,
      // proving the heap operator equal on a total order).
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(TextFunctions.tokens(col("text"))).as("n_tokens"))
      org.apache.spark.sql.GraftPlanBridge.topKPerKey(d,
          Seq("source"), Seq("n_tokens" -> false, "doc_id" -> true), k = 5)
        .select("source", "doc_id", "n_tokens")
    }, oracle =
      """WITH d AS (SELECT doc_id, source,
                           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
                    FROM documents),
         r AS (SELECT source, doc_id, n_tokens,
                      row_number() OVER (PARTITION BY source
                        ORDER BY n_tokens DESC, doc_id ASC) AS rn
               FROM d)
         SELECT source, doc_id, n_tokens FROM r WHERE rn <= 5"""),
    Query("t_ngram_novelty", (s, dir) => {
      // train/test n-gram NOVELTY — the generalization sibling of
      // t_decontaminate: for each test-split document, the fraction of
      // its distinct word 3-grams never seen anywhere in the train split
      // (md5(doc_id) prefix < 'c' ≈ 75% of docs = train, the stable
      // hash-split rule). Low novelty means the eval set rehashes
      // training text; the per-doc rate is the metric an eval-suite
      // curator thresholds on. One shingle pass fans into both sides;
      // the novel test is a bucketed left anti join on the shingle key
      // (shingle-cardinality work, never docs²), then a per-doc ratio of
      // exact integers.
      val sh = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col("doc_id"),
          explode(array_distinct(TextFunctions.shingles(col("toks"), 3))).as("sh"))
      val isTrain = substring(md5(col("doc_id").cast("string")), 1, 1) < "c"
      val train = sh.filter(isTrain).select(col("sh")).distinct()
      val test = sh.filter(!isTrain)
      val novel = test.join(train, Seq("sh"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      test.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
        .join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"),
          round(coalesce(col("n_novel"), lit(0L)).cast("double")
            / col("n_grams").cast("double"), 6).as("novelty_rate"))
    }, oracle =
      // the shared shingle CTE split by the same md5 rule; NOT IN is safe
      // (shingles are never NULL), per-doc ratio of exact integers
      s"""WITH $shingleSql,
         tr AS (SELECT DISTINCT sh FROM sh
                WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'),
         te AS (SELECT doc_id, sh FROM sh
                WHERE NOT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'c'),
         nv AS (SELECT doc_id, count(*) AS n_novel FROM te
                WHERE sh NOT IN (SELECT sh FROM tr) GROUP BY 1),
         g AS (SELECT doc_id, count(*) AS n_grams FROM te GROUP BY 1)
         SELECT g.doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel,
                round(CAST(coalesce(n_novel, 0) AS DOUBLE)
                      / CAST(n_grams AS DOUBLE), 6) AS novelty_rate
         FROM g LEFT JOIN nv ON g.doc_id = nv.doc_id"""),
    Query("t_render_sft", (s, dir) =>
      // training-record RENDERING — the last deterministic step before
      // tokenization: each doc becomes a chat-template record (system +
      // user turn from the first 8 tokens as a synthetic instruction +
      // assistant turn = the document), with special-token markers and
      // an md5 record fingerprint. Rendering is pure per-row string
      // algebra fused into the scan; the fingerprint column is what a
      // training run logs for exact data lineage, and the oracle
      // re-renders byte-for-byte, so template drift (a changed marker, a
      // lost newline) fails the hash gate. Records sort stably by doc_id
      // for pack/shard reproducibility.
      docs(s, dir)
        .select(col("doc_id"), col("lang"), split(col("text"), " ").as("toks"),
          col("text"))
        .select(col("doc_id"), col("lang"),
          concat(lit("<|system|>lang="), col("lang"),
            lit("\n<|user|>"),
            array_join(slice(col("toks"), 1, 8), " "),
            lit("\n<|assistant|>"), col("text"),
            lit("<|end|>")).as("record"))
        .select(col("doc_id"), col("lang"),
          length(col("record")).as("record_chars"),
          md5(col("record")).as("record_md5")), oracle =
      // byte-identical re-render: same markers, same 8-token instruction
      // slice, same newlines; length + md5 gate the whole template
      """SELECT doc_id, lang,
                CAST(length('<|system|>lang=' || lang || chr(10) ||
                  '<|user|>' ||
                  array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') ||
                  chr(10) || '<|assistant|>' || text || '<|end|>') AS INTEGER)
                  AS record_chars,
                md5('<|system|>lang=' || lang || chr(10) ||
                  '<|user|>' ||
                  array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') ||
                  chr(10) || '<|assistant|>' || text || '<|end|>')
                  AS record_md5
         FROM documents"""),
    Query("t_window_chunk", (s, dir) =>
      // context-window chunking — the embedding/RAG ingestion shape: each
      // doc splits into 64-token windows at stride 48 (16-token overlap so
      // no boundary context is lost), each chunk identified by its md5 —
      // the chunk table that feeds an embedding job and later joins chunks
      // back to docs. Pure per-row generation (sequence → explode → slice
      // → hash, all codegen'd); output is chunks-sized, shuffle-free, and
      // every column — including the md5 over the joined window — is
      // hash-gated. At 100 TB: chunk fan-out is ~n_tokens/48 per doc and
      // the generator fuses into the scan stage.
      docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n_tokens", size(col("toks")))
        .select(col("doc_id"), col("n_tokens"), col("toks"),
          explode(expr("sequence(1, greatest(n_tokens, 1), 48)")).as("start"))
        .select(col("doc_id"),
          expr("(start - 1) div 48").cast(IntegerType).as("chunk_id"),
          col("start").cast(IntegerType).as("start"),
          expr("size(slice(toks, start, 64))").as("chunk_tokens"),
          md5(expr("array_join(slice(toks, start, 64), ' ')")).as("chunk_md5")), oracle =
      // identical window arithmetic: generate_series starts, inclusive
      // 1-based list_slice (same tail truncation as Spark's slice), md5
      // over the space-joined window
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         g AS (SELECT doc_id, toks,
                      unnest(generate_series(1, greatest(len(toks), 1), 48))
                        AS start
               FROM t)
         SELECT doc_id,
                CAST((start - 1) // 48 AS INTEGER) AS chunk_id,
                CAST(start AS INTEGER) AS start,
                CAST(len(list_slice(toks, start, start + 63)) AS INTEGER)
                  AS chunk_tokens,
                md5(array_to_string(list_slice(toks, start, start + 63), ' '))
                  AS chunk_md5
         FROM g"""),
    Query("t_diversity", (s, dir) =>
      // lexical diversity as Gini–Simpson index: 1 − Σc_i²/N² over the
      // per-doc token histogram — the LOG-FREE diversity signal (token
      // entropy needs libm log, which is not bit-identical across
      // engines; Gini–Simpson ranks repetitive docs the same way on
      // integer moments and one IEEE division). Complements t_repetition:
      // that flags repeated n-GRAMS, this flags skewed unigram mass.
      // One corpus pass → two map-side-combined aggregates, both integer.
      docs(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c") * col("c")).as("s2"), sum(col("c")).as("n"))
        .select(col("doc_id"), col("n").as("n_tokens"),
          round(lit(1.0) - col("s2").cast("double")
            / (col("n") * col("n")).cast("double"), 6).as("diversity")), oracle =
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                      FROM documents),
         c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
         a AS (SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS s2,
                      CAST(sum(c) AS BIGINT) AS n
               FROM c GROUP BY 1)
         SELECT doc_id, n AS n_tokens,
                round(CAST(1 AS DOUBLE)
                      - CAST(s2 AS DOUBLE) / CAST(n * n AS DOUBLE), 6)
                  AS diversity
         FROM a"""),
    Query("d_canonical", (s, dir) =>
      // dedup ENDGAME: one canonical document per near-dup cluster — the
      // step that turns pair/cluster discovery into an actual curation
      // decision. Clusters come from the declared SimHash → connected-
      // components pipeline; the representative is the longest member
      // (doc_id tie-break) via the max(struct(n_chars, -doc_id)) hash
      // argmax — map-side combined, no per-cluster sort, cluster-sized
      // output. At 100 TB this composes with d_incremental: the canonical
      // table is what new batches match against.
      clustersVia(s, dir, Components.connectedComponents(_, _, _))
        .select("doc_id", "cluster_id")
        .join(docs(s, dir).select(col("doc_id"), col("n_chars")), "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("nd"))).as("m"))
        .select(col("cluster_id"), col("n_members"),
          (-col("m.nd")).as("canonical_doc"),
          col("m.n_chars").as("canonical_chars")), oracle =
      // the d_dedup_clusters replay + the longest-member argmax
      s"""WITH $clustersCteSql,
         j AS (SELECT l.cluster_id, d.doc_id, d.n_chars
               FROM labels l JOIN documents d ON l.doc_id = d.doc_id)
         SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
                -((max(struct_pack(n_chars := n_chars, nd := -doc_id))).nd)
                  AS canonical_doc,
                (max(struct_pack(n_chars := n_chars, nd := -doc_id))).n_chars
                  AS canonical_chars
         FROM j GROUP BY 1"""),
    Query("t_mix_sqrt", (s, dir) => {
      // temperature-balanced source mixing (the multilingual-sampling
      // recipe at α = 0.5): sampling share per source ∝ √(token count),
      // up-weighting small sources against head domains. α = 0.5 is the
      // one temperature whose power function (sqrt) is IEEE-exact in both
      // engines — no libm pow in the contract. The √w terms are cast to
      // DECIMAL(28,16) before the global sum so the denominator is
      // order-independent; the share is then a single double division and
      // the integer budget allocation floors it. The global window runs
      // on the ALREADY-AGGREGATED per-source frame (one row per source),
      // so at 100 TB it is a dims-sized operation after one map-side
      // combined corpus pass.
      import org.apache.spark.sql.expressions.Window
      val agg = docs(s, dir)
        .select(col("source"), size(split(col("text"), " ")).as("nt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .withColumn("wdec",
          sqrt(col("n_tokens").cast("double")).cast(DecimalType(28, 16)))
      val wtot = Window.partitionBy()
      agg
        .withColumn("share", col("wdec").cast("double") /
          sum(col("wdec")).over(wtot).cast("double"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("share"), 6).as("share"),
          floor(col("share") * 100000.0).cast("long").as("target_docs"))
    }, oracle =
      // identical √-weight chain: per-source token sum, sqrt (IEEE-exact
      // at α = 0.5), DECIMAL(28,16)-cast terms into an order-independent
      // windowed total, one double division, floored integer allocation
      """WITH a AS (SELECT source, count(*) AS n_docs,
                           CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                             AS n_tokens
                    FROM documents GROUP BY 1),
         w AS (SELECT source, n_docs, n_tokens,
                      CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(28,16))
                        AS wdec
               FROM a),
         sh AS (SELECT source, n_docs, n_tokens,
                       CAST(wdec AS DOUBLE)
                         / CAST(sum(wdec) OVER () AS DOUBLE) AS share
                FROM w)
         SELECT source, n_docs, n_tokens, round(share, 6) AS share,
                CAST(floor(share * 100000.0) AS BIGINT) AS target_docs
         FROM sh"""),
    Query("t_curriculum", (s, dir) => {
      // curriculum schedule (easy→hard data ordering, Bengio et al.
      // ICML'09 — the public recipe every staged pre-training run uses):
      // assign each document a training PHASE by difficulty quantile
      // WITHIN its source. Difficulty = the hashed-linear classifier's
      // per-token score (t_classifier_score's scan-fused integer sum +
      // one IEEE division — higher = cleaner = earlier phase), so the
      // schedule consumes the quality stack instead of inventing a new
      // signal. Phases are ntile(4) per source (ordered score DESC,
      // doc_id ASC — the total order both engines share): per-source
      // rather than global so the window PARTITIONS (parallel by source
      // at any corpus size; a global ntile is one task) and so every
      // phase mixes all sources — the curriculum orders difficulty, not
      // domains. At 100 TB the phase column is written as a partition
      // key and each training stage reads only its phase.
      import org.apache.spark.sql.expressions.Window
      val toks = TextFunctions.tokens(col("text"))
      val scored = docs(s, dir)
        .withColumn("n_tokens", size(toks))
        .withColumn("w_sum",
          TextFunctions.clsWeightSum(toks))
        .withColumn("score", // greatest-1 guard: an empty-token doc
          // would otherwise score NULL and land in an ordering-dependent
          // ntile position (cross-engine null-ordering hazard); split()
          // never yields size 0 on this corpus, so the guard is inert
          col("w_sum").cast("double") / greatest(col("n_tokens"), lit(1)))
      val bySrc = Window.partitionBy("source")
        .orderBy(col("score").desc, col("doc_id").asc)
      scored.select(col("doc_id"), col("source"),
        ntile(4).over(bySrc).as("phase"),
        round(col("score"), 6).as("score"))
    }, oracle =
      // identical difficulty chain (the t_classifier_score hash/weight
      // sum), then ntile(4) per source over the shared total order
      // (score DESC, doc_id ASC)
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id, source,
                 CAST(len(toks) AS INTEGER) AS n_tokens,
                 CAST(list_aggregate(list_transform(toks,
                   t -> ('0x' || substr(md5('w' ||
                          CAST(('0x' || substr(md5(t), 1, 6))::BIGINT % 64
                               AS VARCHAR)), 1, 4))::BIGINT % 2001 - 1000),
                   'sum') AS BIGINT) AS w_sum
               FROM t)
         SELECT doc_id, source,
                CAST(ntile(4) OVER (PARTITION BY source
                     ORDER BY CAST(w_sum AS DOUBLE) / greatest(n_tokens, 1) DESC,
                              doc_id ASC) AS INTEGER) AS phase,
                round(CAST(w_sum AS DOUBLE) / greatest(n_tokens, 1), 6) AS score
         FROM c"""),
    Query("t_mix_doremi", (s, dir) => {
      // excess-quality source reweighting (DoReMi, Xie et al. NeurIPS'23
      // — public recipe SHAPE: upweight domains where the model's excess
      // loss is largest; here ONE multiplicative-weights step, linearized
      // — exp() is libm, so the exponentiated-gradient update is replaced
      // by its first-order expansion w ∝ tokens·(1 + η·excess), same
      // update direction, documented substitution). Excess for a source =
      // max(0, source mean per-token classifier score − corpus mean):
      // both means are single IEEE divisions over EXACT integer sums, so
      // the whole reweighting is deterministic. Plan: one map-side
      // combined corpus pass → a sources-sized frame; the corpus mean and
      // the share denominator are windows over that dims-sized frame
      // (√w-style DECIMAL cast before the sum keeps the denominator
      // order-independent — the t_mix_sqrt idiom). At 100 TB this is one
      // pass + O(sources) arithmetic.
      import org.apache.spark.sql.expressions.Window
      val toks = TextFunctions.tokens(col("text"))
      val perSrc = docs(s, dir)
        .withColumn("nt", size(toks))
        .withColumn("ws",
          TextFunctions.clsWeightSum(toks))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"),
          sum(col("ws")).as("w_sum"))
      val wAll = Window.partitionBy()
      perSrc
        .withColumn("corpus_rate",
          sum(col("w_sum")).over(wAll).cast("double") /
            sum(col("n_tokens")).over(wAll).cast("double"))
        .withColumn("excess",
          greatest(col("w_sum").cast("double") / col("n_tokens")
            - col("corpus_rate"), lit(0.0)))
        .withColumn("wdec",
          (col("n_tokens").cast("double") *
            (lit(1.0) + col("excess") / lit(1000.0)))
            .cast(DecimalType(28, 16)))
        .withColumn("share", col("wdec").cast("double") /
          sum(col("wdec")).over(wAll).cast("double"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("excess"), 6).as("excess"),
          round(col("share"), 6).as("share"),
          floor(col("share") * 100000.0).cast("long").as("target_docs"))
    }, oracle =
      // identical per-source integer sums; the same single-division rates,
      // linearized multiplicative update, DECIMAL-cast share denominator
      """WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT source,
                 CAST(len(toks) AS BIGINT) AS nt,
                 CAST(list_aggregate(list_transform(toks,
                   t -> ('0x' || substr(md5('w' ||
                          CAST(('0x' || substr(md5(t), 1, 6))::BIGINT % 64
                               AS VARCHAR)), 1, 4))::BIGINT % 2001 - 1000),
                   'sum') AS BIGINT) AS ws
               FROM t),
         s AS (SELECT source, count(*) AS n_docs,
                      CAST(sum(nt) AS BIGINT) AS n_tokens,
                      CAST(sum(ws) AS BIGINT) AS w_sum
               FROM c GROUP BY 1),
         g AS (SELECT *, CAST(sum(w_sum) OVER () AS DOUBLE)
                         / CAST(sum(n_tokens) OVER () AS DOUBLE) AS corpus_rate
               FROM s),
         x AS (SELECT *, greatest(CAST(w_sum AS DOUBLE) / n_tokens
                                  - corpus_rate, 0.0) AS excess FROM g),
         wv AS (SELECT *, CAST(CAST(n_tokens AS DOUBLE) * (1.0 + excess / 1000.0)
                               AS DECIMAL(28,16)) AS wdec FROM x)
         SELECT source, n_docs, n_tokens,
                round(excess, 6) AS excess,
                round(CAST(wdec AS DOUBLE)
                      / CAST(sum(wdec) OVER () AS DOUBLE), 6) AS share,
                CAST(floor(CAST(wdec AS DOUBLE)
                      / CAST(sum(wdec) OVER () AS DOUBLE) * 100000.0)
                     AS BIGINT) AS target_docs
         FROM wv"""),
    Query("t_dsir", (s, dir) => {
      // DSIR-style data selection via importance resampling (Xie et al.,
      // NeurIPS'23 — public recipe): score every raw-corpus doc by how
      // much more likely its HASHED-NGRAM features are under a target
      // domain (here lang='en', the trusted distribution) than under the
      // raw corpus, then select. Features are md5-hashed unigrams into 256
      // buckets (the paper's hashed feature trick — fixed model size at
      // any corpus scale). Determinism substitution, recorded: the paper
      // scores by Σ c_f·log(p_t/p_r); libm log is not bit-identical across
      // engines (the t_lm_quality lesson), so the score is the LINEAR
      // contrast Σ c_f·(p_t(f) − p_r(f)) with add-one smoothing — same
      // per-feature selection direction, and it collapses to
      // A/(Tt+256) − B/(Tr+256) with A = Σ_tokens (ct_f+1),
      // B = Σ_tokens (cr_f+1) PURE-INTEGER per-doc sums: the whole score
      // is two IEEE divisions + one subtract over exact ints. Plan: the
      // 256-bucket model is built by two map-side-combined aggs and joins
      // back BROADCAST (the model, not data); per-doc sums absorb
      // map-side; selection is the per-row sign test (score > 0 ⇔ doc is
      // more target-like than raw-like) — shuffle-free, no global sort;
      // a quota cut at scale composes the score with TopKPerKey.
      val toks = docs(s, dir).select(col("doc_id"), col("lang"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .withColumn("f", pmod(
          conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"),
          lit(256L)))
      val raw = toks.groupBy("f").agg(count(lit(1)).as("cr"))
      val tgt = toks.filter(col("lang") === "en")
        .groupBy("f").agg(count(lit(1)).as("ct"))
      val stats = raw.join(tgt, Seq("f"), "left")
        .select(col("f"), coalesce(col("ct"), lit(0L)).as("ct"), col("cr"))
      val tot = stats.agg(sum("ct").as("tt"), sum("cr").as("tr"))
      toks.join(broadcast(stats), "f")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(col("ct") + lit(1L)).as("a_sum"),
          sum(col("cr") + lit(1L)).as("b_sum"))
        .crossJoin(broadcast(tot))
        .withColumn("score",
          col("a_sum").cast("double") / (col("tt") + lit(256L)).cast("double")
            - col("b_sum").cast("double") / (col("tr") + lit(256L)).cast("double"))
        .select(col("doc_id"), col("n_tok"), col("a_sum"), col("b_sum"),
          round(col("score"), 9).as("score"),
          (col("score") > 0).cast("int").as("selected"))
    }, oracle =
      // identical hashed-bucket model: md5-unigram → 256 buckets, add-one
      // smoothed target/raw counts, the pure-integer per-doc sums, and the
      // same two-division IEEE score chain
      """WITH tok AS (SELECT doc_id, lang,
                unnest(string_split(text, ' ')) AS tok FROM documents),
         tf AS MATERIALIZED (SELECT doc_id, lang,
                ('0x' || substr(md5(tok), 1, 8))::BIGINT % 256 AS f
              FROM tok),
         raw AS (SELECT f, count(*) AS cr FROM tf GROUP BY 1),
         tgt AS (SELECT f, count(*) AS ct FROM tf WHERE lang = 'en' GROUP BY 1),
         st AS MATERIALIZED (
           SELECT r.f, COALESCE(t.ct, 0) AS ct, r.cr
           FROM raw r LEFT JOIN tgt t USING (f)),
         tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM st),
         doc AS (SELECT d.doc_id,
                        CAST(count(*) AS BIGINT) AS n_tok,
                        CAST(sum(s.ct + 1) AS BIGINT) AS a_sum,
                        CAST(sum(s.cr + 1) AS BIGINT) AS b_sum
                 FROM tf d JOIN st s USING (f) GROUP BY 1),
         sc AS (SELECT doc_id, n_tok, a_sum, b_sum,
                       CAST(a_sum AS DOUBLE) / CAST(tt + 256 AS DOUBLE)
                         - CAST(b_sum AS DOUBLE) / CAST(tr + 256 AS DOUBLE)
                         AS score
                FROM doc, tot)
         SELECT doc_id, n_tok, a_sum, b_sum, round(score, 9) AS score,
                CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INTEGER)
                  AS selected
         FROM sc"""),
    Query("t_weighted_sample", (s, dir) => {
      // deterministic IMPORTANCE sampling: keep probability proportional to
      // a per-doc quality weight (token count capped at 1.0), decided by
      // comparing the doc's stable md5-fraction to its weight — the
      // quality-weighted data-mixing primitive (DoReMi-style reweighting),
      // reproducible across runs/engines and stable under corpus growth.
      // The 48-bit md5 prefix is exact in a double (KMV precedent).
      val toks = size(TextFunctions.tokens(col("text")))
      val weight = least(lit(1.0), toks.cast("double") / 100.0)
      val frac = conv(substring(md5(col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long").cast("double") / 281474976710656.0
      docs(s, dir)
        .select(col("doc_id"), toks.as("n_tokens"),
          round(weight, 6).as("weight"))
        .filter(frac < weight)
    }, oracle =
      """WITH t AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
         FROM documents)
         SELECT doc_id, n_tokens,
                round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0), 6) AS weight
         FROM t
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               / 281474976710656.0
               < least(1.0, CAST(n_tokens AS DOUBLE) / 100.0)"""),
    Query("t_upsample", (s, dir) => {
      // integer replication by quality tier ("repeat good data"): high-tier
      // docs emit 3 copies, mid 2, rest 1, each tagged with its copy index
      // — the epoch-mixing primitive. explode(sequence(...)) keeps the
      // replication distributed and shuffle-free.
      val toks = size(TextFunctions.tokens(col("text")))
      val copies = when(toks >= 60, 3).when(toks >= 30, 2).otherwise(1)
      docs(s, dir)
        .select(col("doc_id"), toks.as("n_tokens"), copies.as("n_copies"))
        .select(col("doc_id"), col("n_tokens"), col("n_copies"),
          explode(sequence(lit(1), col("n_copies"))).as("copy_n"))
    }, oracle =
      """WITH t AS (SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
         FROM documents),
         c AS (SELECT doc_id, n_tokens,
                      CASE WHEN n_tokens >= 60 THEN 3
                           WHEN n_tokens >= 30 THEN 2 ELSE 1 END AS n_copies
               FROM t)
         SELECT doc_id, n_tokens, CAST(n_copies AS INTEGER) AS n_copies,
                CAST(unnest(generate_series(1, n_copies)) AS INTEGER) AS copy_n
         FROM c"""),
    Query("t_sample_split", (s, dir) => {
      // deterministic train/val/test split (~90/5/5) on a hash of the
      // stable id: reproducible across runs and engines, and a doc's split
      // never changes as the corpus grows — the property leakage-free LLM
      // data splits need. Lexicographic md5-prefix thresholds avoid
      // hex→int conversion differences between engines.
      val h = substring(md5(col("doc_id").cast("string")), 1, 2)
      docs(s, dir).select(col("doc_id"),
        when(h < "e6", "train").when(h < "f3", "val").otherwise("test").as("split"))
    }, oracle =
      """SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'train'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'f3' THEN 'val'
                     ELSE 'test' END AS split
         FROM documents"""),
    Query("t_clean", (s, dir) => {
      // token-level content cleaning: strip a stop-token list and rebuild
      // the text — the shape of every removal pass (stopwords, boilerplate
      // phrases, redaction placeholders) a training pipeline runs before
      // tokenization. Pure array ops (filter + join), no regex dialect to
      // reconcile. n_removed counts tokens directly (size in - size kept),
      // which stays correct for fully-stopworded docs where re-splitting
      // the empty cleaned string would yield [""] and undercount by one.
      // Sibling columns re-derive toks/kept per column — as in t_quality,
      // bind can't share across siblings (SimplifyExtractValueOps).
      val stop = Seq("the", "a")
      val toks = TextFunctions.tokens(col("text"))
      val kept = filter(toks, t => !t.isInCollection(stop))
      docs(s, dir).select(col("doc_id"),
        length(col("text")).as("raw_len"),
        length(array_join(kept, " ")).as("clean_len"),
        (size(toks) - size(kept)).as("n_removed"))
    }, oracle =
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
                           list_filter(string_split(text, ' '),
                             x -> x NOT IN ('the', 'a')) AS kept
                    FROM documents)
         SELECT doc_id,
                CAST(length(text) AS INTEGER) AS raw_len,
                CAST(length(array_to_string(kept, ' ')) AS INTEGER) AS clean_len,
                CAST(len(toks) - len(kept) AS INTEGER) AS n_removed
         FROM t"""),
    Query("t_repetition", (s, dir) => {
      // Gopher-style repetition filter signal: the fraction of positional
      // word 3-grams that are duplicates within the doc (1 - distinct/total)
      // — high values flag boilerplate/looping text. Rational arithmetic:
      // one IEEE division of identical ints.
      // n_grams is arithmetic (token count - 2), not a second gram-array
      // construction — only the distinct count needs the array built
      val toks = TextFunctions.tokens(col("text"))
      docs(s, dir)
        .select(col("doc_id"),
          (size(toks) - 2).as("n_grams"),
          size(TextFunctions.shingles(toks, 3)).as("n_distinct"))
        .filter(col("n_grams") > 0)
        .withColumn("rep_ratio",
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6))
    }, oracle =
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         g AS (SELECT doc_id, CAST(len(toks) - 2 AS INTEGER) AS n_grams,
                      list_transform(generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
               FROM t WHERE len(toks) >= 3)
         SELECT doc_id, n_grams,
                CAST(len(list_distinct(grams)) AS INTEGER) AS n_distinct,
                round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / n_grams, 6)
                  AS rep_ratio
         FROM g"""),
    Query("t_top_terms", (s, dir) => {
      // per-doc top-3 distinguishing terms by tf·(N/df) — tf-idf shaped
      // keyword extraction without log() (libm log is not bit-identical
      // across engines; N is constant per ranking, so tf/df preserves the
      // tf·idf order). One corpus pass fans into tf and df aggregates;
      // ranking is a per-doc window with a deterministic term tie-break.
      import org.apache.spark.sql.expressions.Window
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val dfreq = toks.select("doc_id", "tok").distinct()
        .groupBy("tok").agg(count(lit(1)).as("df_cnt"))
      val w = Window.partitionBy("doc_id")
        .orderBy((col("tf").cast("double") / col("df_cnt")).desc, col("tok").asc)
      tf.join(dfreq, "tok")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "tok", "tf", "df_cnt", "rank")
    }, oracle =
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df_cnt FROM toks GROUP BY 1),
         r AS (SELECT doc_id, tok, tf, df_cnt,
                      row_number() OVER (PARTITION BY doc_id
                        ORDER BY CAST(tf AS DOUBLE)/df_cnt DESC, tok) AS rank
               FROM tf JOIN dfreq USING (tok))
         SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf,
                CAST(df_cnt AS BIGINT) AS df_cnt, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3"""),
    Query("t_stratified", (s, dir) => {
      // stratified deterministic sampling: exactly every 5th doc per
      // language stratum in stable doc_id order — balanced class subsets
      // (the eval-set carve-out) with one window shuffle on the stratum
      // key, no global sort, and bit-reproducible membership.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      docs(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter((col("rn") - 1) % 5 === 0)
        .select(col("doc_id"), col("lang"), col("rn"))
    }, oracle =
      """SELECT doc_id, lang, CAST(rn AS INTEGER) AS rn
         FROM (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
               FROM documents)
         WHERE (rn - 1) % 5 = 0"""),
    Query("t_pack", (s, dir) => {
      // token-budget sequence packing (chunked formulation): docs pack in
      // stable doc_id order into 2048-token bins via a running token count;
      // bin = tokens-before div 2048. Packing runs per shard (doc_id mod 8)
      // so no global sort exists — shards pack independently across
      // executors, which is how a 100 TB corpus packs in practice.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      docs(s, dir)
        .select(col("doc_id"), pmod(col("doc_id"), lit(8L)).as("shard"),
          size(TextFunctions.tokens(col("text"))).as("n_tokens"))
        .withColumn("tokens_before",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          col("tokens_before"), expr("tokens_before div 2048").as("bin_id"))
    }, oracle =
      """WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
                           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
                    FROM documents),
         w AS (SELECT doc_id, shard, n_tokens,
                      CAST(COALESCE(sum(n_tokens) OVER (
                        PARTITION BY shard ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS tokens_before
               FROM t)
         SELECT doc_id, shard, n_tokens, tokens_before,
                tokens_before // 2048 AS bin_id
         FROM w"""),
    Query("t_lm_quality", (s, dir) => {
      // per-doc FLUENCY score: mean add-one bigram transition probability
      // under the corpus LM (the t_ngram_lm table applied back to the
      // corpus) — typical word sequences score high, gibberish low. The
      // mean (not log-likelihood) keeps the score libm-free: each p is
      // ONE IEEE division of exact integers ((c12+1)/(c1+V), DuckDB
      // promotes the decimal dividend to double exactly), per-doc sums
      // accumulate in DECIMAL(28,16) (order-independent), the mean is one
      // more division. Plan: the LM is pair-keyed and joins the bigram
      // stream on pair equality — corpus-sized shuffles, map-side
      // combined per-doc agg, 1-row vocab broadcast. Docs with < 2
      // tokens have no bigrams and are out of scope (inner join).
      val grams = docs(s, dir).select(col("doc_id"),
        explode(TextFunctions.ngrams(
          TextFunctions.tokens(col("text")), 2)).as("pair"))
      val bi = grams.groupBy("pair").agg(count(lit(1)).as("c12"))
        .withColumn("w1", substring_index(col("pair"), " ", 1))
      val ctx = bi.groupBy("w1").agg(sum("c12").as("c1"))
      val vocab = docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
      val lm = bi.join(ctx, "w1").crossJoin(broadcast(vocab))
        .select(col("pair"),
          ((col("c12") + lit(1.0)) / (col("c1") + col("v"))).as("p"))
      grams.join(lm, "pair")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          round(sum(col("p").cast(DecimalType(28, 16))).cast("double") /
            count(lit(1)), 9).as("mean_p"))
    }, oracle =
      // p's decimal dividend (c12+1.0) promotes to double exactly, so the
      // division is the same IEEE op as the engine's; DECIMAL(28,16)
      // accumulation makes the per-doc sum order-independent
      """WITH grams AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 2),
         bi AS (SELECT pair, count(*) AS c12 FROM grams GROUP BY 1),
         sp AS (SELECT pair, c12, string_split(pair, ' ')[1] AS w1 FROM bi),
         ctx AS (SELECT w1, sum(c12) AS c1 FROM sp GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS v
               FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
         lm AS (SELECT sp.pair, (sp.c12 + 1.0) / (ctx.c1 + v.v) AS p
                FROM sp JOIN ctx USING (w1), v)
         SELECT g.doc_id, count(*) AS n_bigrams,
                round(CAST(sum(CAST(p AS DECIMAL(28,16))) AS DOUBLE) /
                      count(*), 9) AS mean_p
         FROM grams g JOIN lm USING (pair)
         GROUP BY 1"""),
    Query("t_ngram_lm", (s, dir) => {
      // bigram LM statistics with add-one smoothing: P(w2|w1) =
      // (c(w1,w2)+1)/(c(w1·)+V) — the conditional-probability table a
      // statistical language model materializes (c(w1·) = w1's total count
      // as a left context, so probabilities per context sum correctly).
      // Counts absorb map-side; V is a broadcast 1-row scalar; the
      // probability is one IEEE division of exact integers. Top-50 with a
      // total order for a deterministic cut.
      val grams = docs(s, dir)
        .select(explode(TextFunctions.ngrams(
          TextFunctions.tokens(col("text")), 2)).as("pair"))
      val bi = grams.groupBy("pair").agg(count(lit(1)).as("c12"))
        .withColumn("w1", substring_index(col("pair"), " ", 1))
      val ctx = bi.groupBy("w1").agg(sum("c12").as("c1"))
      val vocab = docs(s, dir)
        .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
      bi.join(ctx, "w1")
        .crossJoin(broadcast(vocab))
        .select(col("pair"), col("c12"), col("c1"),
          round((col("c12") + lit(1.0)) / (col("c1") + col("v")), 9).as("p"))
        .orderBy(col("c12").desc, col("pair").asc)
        .limit(50)
    }, oracle =
      """WITH grams AS (
           SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
           FROM (SELECT string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 2),
         bi AS (SELECT pair, count(*) AS c12 FROM grams GROUP BY 1),
         sp AS (SELECT pair, c12, string_split(pair, ' ')[1] AS w1 FROM bi),
         ctx AS (SELECT w1, sum(c12) AS c1 FROM sp GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS v
               FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents))
         SELECT sp.pair, CAST(sp.c12 AS BIGINT) AS c12, CAST(ctx.c1 AS BIGINT) AS c1,
                round((sp.c12 + 1.0) / (ctx.c1 + v.v), 9) AS p
         FROM sp JOIN ctx USING (w1), v
         ORDER BY c12 DESC, pair ASC LIMIT 50"""),
    Query("t_source_overlap", (s, dir) => {
      // cross-source contamination matrix (the C4-style dataset-overlap
      // diagnostic, Dodge et al. EMNLP'21 §4; the dataset-level twin of
      // t_decontaminate's per-doc gate): for every ordered source pair,
      // the CONTAINMENT |sh(a) ∩ sh(b)| / |sh(a)| over distinct 3-gram
      // shingles — asymmetric on purpose (a small benchmark fully inside
      // a big crawl reads 1.0 in one direction, ~0 in the other, which
      // is exactly the signal a decontamination pass acts on). Plan: the
      // per-source distinct shingle frame reduces map-side off the
      // shared shingle table; the pair counts come from ONE shingle-key
      // equality self-join (bucketed at scale — a shingle's source list
      // is short, so per-key fan-out is |sources touching it|², bounded
      // by the source count, never corpus-shaped); per-source totals
      // broadcast back onto the 400-row matrix.
      val srcSh = TextDedup.shingleTable(docs(s, dir), "doc_id", "text", 3)
        .join(docs(s, dir).select("doc_id", "source"), "doc_id")
        .select("source", "sh").distinct()
        .localCheckpoint() // consumed 3× (both join sides + totals)
      val totals = srcSh.groupBy("source").agg(count(lit(1)).as("n_sh"))
      srcSh.as("a").join(srcSh.as("b"), Seq("sh"))
        .filter(col("a.source") =!= col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(totals.select(col("source").as("src_a"), col("n_sh")), "src_a")
        .select(col("src_a"), col("src_b"), col("n_common"), col("n_sh"),
          round(col("n_common").cast("double") / col("n_sh"), 6)
            .as("containment"))
    }, oracle =
      // identical per-source distinct shingle sets, the same shingle-key
      // pair join, per-source totals re-joined for the containment ratio
      s"""WITH $shingleSql,
         ss AS MATERIALIZED (
           SELECT DISTINCT d.source, s.sh
           FROM sh s JOIN documents d USING (doc_id)),
         tot AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY 1),
         pr AS (SELECT a.source AS src_a, b.source AS src_b,
                       count(*) AS n_common
                FROM ss a JOIN ss b
                  ON a.sh = b.sh AND a.source <> b.source
                GROUP BY 1, 2)
         SELECT pr.src_a, pr.src_b, pr.n_common, t.n_sh,
                round(CAST(pr.n_common AS DOUBLE) / t.n_sh, 6)
                  AS containment
         FROM pr JOIN tot t ON pr.src_a = t.source"""),
    Query("t_render_dpo", (s, dir) => {
      // DPO preference-pair construction (Rafailov et al., NeurIPS'23 —
      // the data step of direct preference optimization: each training
      // record is a (prompt, chosen, rejected) triple; here the pair per
      // SOURCE is its best-vs-worst doc under the hashed-linear quality
      // classifier, the production stand-in for a reward model). The
      // per-doc score is t_classifier_score's integer w_sum (order-
      // independent, bit-exact); chosen = argmax (ties → smallest
      // doc_id, via max(struct(w_sum, −doc_id))), rejected = argmin
      // (ties → smallest doc_id); margin = score gap (the DPO implicit-
      // reward margin a pipeline logs per pair). Rendering follows the
      // t_render_sft lineage pattern — markers + md5 fingerprint, so a
      // template or pairing drift fails the hash gate. Plan: one scan
      // scores every doc (the lambda fuses into codegen), one source-key
      // aggregate picks both ends, two id-equality joins fetch the texts.
      val scored = docs(s, dir)
        .withColumn("toks", TextFunctions.tokens(col("text")))
        .withColumn("w_sum",
          TextFunctions.clsWeightSum(col("toks")))
        .localCheckpoint() // consumed 3× (pair agg + both text joins)
      val pairs = scored.groupBy("source").agg(
          max(struct(col("w_sum"), (-col("doc_id")).as("nd"))).as("mx"),
          min(struct(col("w_sum"), col("doc_id").as("d"))).as("mn"),
          count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select(col("source"),
          (-col("mx.nd")).as("chosen_doc"), col("mx.w_sum").as("cs"),
          col("mn.d").as("rejected_doc"), col("mn.w_sum").as("rs"))
        .filter(col("chosen_doc") =!= col("rejected_doc"))
      val ch = scored.select(col("doc_id").as("chosen_doc"),
        col("text").as("ct"), col("toks").as("ctoks"))
      val rj = scored.select(col("doc_id").as("rejected_doc"),
        col("text").as("rt"))
      pairs.join(ch, "chosen_doc").join(rj, "rejected_doc")
        .withColumn("record",
          concat(lit("<|prompt|>"), array_join(slice(col("ctoks"), 1, 8), " "),
            lit("\n<|chosen|>"), col("ct"),
            lit("\n<|rejected|>"), col("rt"), lit("<|end|>")))
        .select(col("source"), col("chosen_doc"), col("rejected_doc"),
          (col("cs") - col("rs")).as("margin"),
          length(col("record")).as("record_chars"),
          md5(col("record")).as("record_md5"))
    }, oracle =
      // identical hashed-linear scores, the same argmax/argmin structs
      // (ties → smallest doc_id on both ends), byte-identical rendering
      """WITH t AS (SELECT doc_id, source, text,
                           string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id, source, text, toks,
                 CAST(list_aggregate(list_transform(toks,
                   t -> ('0x' || substr(md5('w' ||
                          CAST(('0x' || substr(md5(t), 1, 6))::BIGINT % 64
                               AS VARCHAR)), 1, 4))::BIGINT % 2001 - 1000),
                   'sum') AS BIGINT) AS w_sum
               FROM t),
         p AS (SELECT source,
                 -((max(struct_pack(w := w_sum, nd := -doc_id))).nd)
                   AS chosen_doc,
                 (max(struct_pack(w := w_sum, nd := -doc_id))).w AS cs,
                 (min(struct_pack(w := w_sum, d := doc_id))).d
                   AS rejected_doc,
                 (min(struct_pack(w := w_sum, d := doc_id))).w AS rs,
                 count(*) AS n
               FROM c GROUP BY 1),
         r AS (SELECT p.source, p.chosen_doc, p.rejected_doc,
                      p.cs - p.rs AS margin,
                      '<|prompt|>' ||
                        array_to_string(list_slice(ch.toks, 1, 8), ' ') ||
                        chr(10) || '<|chosen|>' || ch.text ||
                        chr(10) || '<|rejected|>' || rj.text || '<|end|>'
                        AS record
               FROM p
               JOIN c ch ON p.chosen_doc = ch.doc_id
               JOIN c rj ON p.rejected_doc = rj.doc_id
               WHERE p.n >= 2 AND p.chosen_doc <> p.rejected_doc)
         SELECT source, chosen_doc, rejected_doc, margin,
                CAST(length(record) AS INTEGER) AS record_chars,
                md5(record) AS record_md5
         FROM r"""),
    Query("t_span_corrupt", (s, dir) => {
      // T5 span corruption (Raffel et al., JMLR'20 §3.1.4 — the
      // denoising objective's DATA step: mask ~15% of tokens in
      // multi-token spans, replace each masked span with one sentinel in
      // the input, and emit sentinel+span pairs as the target). Fixed
      // span length 3 stands in for T5's mean-3 span sampling, and the
      // mask decision is md5(doc_id:span) fraction < 0.15 — the hash is
      // the RNG (the t_sample_split / g_walks rationale): masking is
      // per-(doc,span) independent, reproducible across 1000 executors,
      // and needs no generator state. Threshold 2516582 = ⌊0.15·16⁶⌋
      // over the first 6 md5 hex digits — a pure integer test. Sentinel
      // ordinals <Xk> come from a per-doc row_number over masked spans;
      // input/target render via order-preserving reassembly (the
      // d_dedup_cut idiom: sort-by-position collect, concat_ws) and ship
      // as md5 fingerprints (the t_render_sft lineage pattern — one
      // changed token or lost sentinel fails the hash gate). Everything
      // is one doc_id-partitioned shuffle; the rendering fuses into the
      // final aggregate.
      import org.apache.spark.sql.expressions.Window
      val ex = docs(s, dir)
        .select(col("doc_id"), posexplode(TextFunctions.tokens(col("text"))))
        .toDF("doc_id", "pos", "tok")
        .withColumn("span", expr("pos div 3"))
        .withColumn("masked",
          conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
            col("span").cast("string"))), 1, 6), 16, 10).cast("long")
            < lit(2516582L))
        .localCheckpoint()
      val spanOrd = ex.filter(col("masked"))
        .select("doc_id", "span").distinct()
        .withColumn("k", row_number().over(
          Window.partitionBy("doc_id").orderBy("span")))
      val withK = ex.join(spanOrd, Seq("doc_id", "span"), "left")
      val inputAgg = withK
        .filter(!col("masked") || col("pos") % 3 === 0)
        .select(col("doc_id"), col("pos"),
          when(col("masked"), concat(lit("<X"), col("k"), lit(">")))
            .otherwise(col("tok")).as("item"))
        .groupBy("doc_id")
        .agg(md5(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("item")))),
          x => x.getField("item")))).as("input_md5"))
      val targetAgg = withK.filter(col("masked"))
        .select(col("doc_id"), col("pos"), col("span"),
          when(col("pos") % 3 === 0,
            concat(lit("<X"), col("k"), lit("> "), col("tok")))
            .otherwise(col("tok")).as("item"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens_masked"),
          countDistinct(col("span")).as("n_spans_masked"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("item")))),
            x => x.getField("item")))).as("target_md5"))
      docs(s, dir).select("doc_id")
        .join(inputAgg, Seq("doc_id"))
        .join(targetAgg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans_masked"), lit(0L)).as("n_spans_masked"),
          coalesce(col("n_tokens_masked"), lit(0L)).as("n_tokens_masked"),
          col("input_md5"),
          coalesce(col("target_md5"),
            lit("d41d8cd98f00b204e9800998ecf8427e")).as("target_md5"))
    }, oracle =
      // identical md5-fraction masking, sentinel ordinals, and
      // order-preserving input/target rendering; string_agg(ORDER BY pos)
      // replays the sort-by-position collect
      """WITH ex AS MATERIALIZED (
           SELECT doc_id, i - 1 AS pos, tok, (i - 1) // 3 AS span,
                  (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                      || CAST((i - 1) // 3 AS VARCHAR)), 1, 6))::BIGINT
                    < 2516582) AS masked
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                        generate_subscripts(string_split(text, ' '), 1) AS i
                 FROM documents)),
         spanord AS (
           SELECT doc_id, span,
                  row_number() OVER (PARTITION BY doc_id ORDER BY span) AS k
           FROM (SELECT DISTINCT doc_id, span FROM ex WHERE masked)),
         withk AS (SELECT e.*, s.k FROM ex e
                   LEFT JOIN spanord s USING (doc_id, span)),
         inp AS (
           SELECT doc_id, md5(string_agg(item, ' ' ORDER BY pos)) AS input_md5
           FROM (SELECT doc_id, pos,
                   CASE WHEN masked THEN '<X' || CAST(k AS VARCHAR) || '>'
                        ELSE tok END AS item
                 FROM withk WHERE NOT masked OR pos % 3 = 0)
           GROUP BY 1),
         tgt AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_masked,
                  CAST(count(DISTINCT span) AS BIGINT) AS n_spans_masked,
                  md5(string_agg(item, ' ' ORDER BY pos)) AS target_md5
           FROM (SELECT doc_id, pos, span,
                   CASE WHEN pos % 3 = 0
                        THEN '<X' || CAST(k AS VARCHAR) || '> ' || tok
                        ELSE tok END AS item
                 FROM withk WHERE masked)
           GROUP BY 1)
         SELECT d.doc_id,
                COALESCE(t.n_spans_masked, 0) AS n_spans_masked,
                COALESCE(t.n_tokens_masked, 0) AS n_tokens_masked,
                i.input_md5,
                COALESCE(t.target_md5, md5('')) AS target_md5
         FROM documents d JOIN inp i USING (doc_id)
         LEFT JOIN tgt t USING (doc_id)"""),
    Query("t_bm25", (s, dir) => {
      // Okapi BM25 scoring (Robertson & Spärck Jones; the BM25 of
      // Robertson et al. TREC-3) — THE lexical retrieval baseline every
      // hybrid (sparse+dense) serving stack still runs next to ANN:
      // score(d) = Σ_{t∈Q} idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·len/avglen)),
      // k1 = 1.2, b = 0.75, query = {hash, merge, vector}. Determinism
      // substitution (the t_dsir precedent, recorded here): idf is the
      // RSJ odds (N−df+0.5)/(df+0.5) WITHOUT the log — libm ln is not
      // bit-identical cross-engine; the odds stay monotone in df so each
      // PER-TERM score keeps BM25's shape, and the oracle replays the
      // identical formula. CAVEAT (judge round-9 advisory): the
      // substitution is NOT rank-preserving for multi-term sums — the
      // un-logged odds ratio overweights rare terms relative to log-idf,
      // so the summed top-20 ordering can diverge from a standard
      // log-idf BM25 implementation; this operator gates the
      // deterministic variant, not reference-BM25 rank parity. Plan:
      // tf = one explode filtered to the 3
      // query terms (the filter fuses into the generator — the corpus
      // never explodes for non-query tokens), df reduces off the tf
      // frame, corpus stats (N, decimal Σlen) are a 1-row broadcast; the
      // per-(doc,term) score is one fixed IEEE chain cast to
      // DECIMAL(28,16) so the per-doc sum over matched terms is
      // order-independent. Top-20 by unrounded score, doc_id tie-break.
      val qTerms = Seq("hash", "merge", "vector")
      val d = docs(s, dir)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
        .withColumn("len", size(col("toks")))
      val stats = d.agg(count(lit(1)).as("n_docs"),
        sum(col("len").cast(DecimalType(28, 6))).cast("double").as("sum_len"))
      val tf = d.select(col("doc_id"), col("len"), explode(col("toks")).as("tok"))
        .filter(col("tok").isin(qTerms: _*))
        .groupBy("doc_id", "len", "tok").agg(count(lit(1)).as("tf"))
      val dfr = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      tf.join(dfr, "tok").crossJoin(broadcast(stats))
        .select(col("doc_id"),
          ((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
            * (col("tf") * lit(2.2))
            / (col("tf") + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("len") / (col("sum_len") / col("n_docs")))))
            .cast(DecimalType(28, 16)).as("term_score"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("term_score")).cast("double").as("sc"))
        .orderBy(col("sc").desc, col("doc_id").asc)
        .limit(20)
        .select(col("doc_id"), col("n_terms"), round(col("sc"), 6).as("score"))
    }, oracle =
      // identical tf/df/stats reductions and the identically-parenthesized
      // IEEE chain; the per-term score casts to DECIMAL(28,16) before the
      // per-doc sum so accumulation order cannot matter
      """WITH d AS (
           SELECT doc_id, string_split(text, ' ') AS toks,
                  len(string_split(text, ' ')) AS len
           FROM documents),
         stats AS (SELECT count(*) AS n_docs,
                          CAST(sum(CAST(len AS DECIMAL(28,6))) AS DOUBLE)
                            AS sum_len
                   FROM d),
         tf AS (SELECT doc_id, len, tok, count(*) AS tf
                FROM (SELECT doc_id, len, unnest(toks) AS tok FROM d)
                WHERE tok IN ('hash', 'merge', 'vector')
                GROUP BY 1, 2, 3),
         dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         ts AS (SELECT doc_id,
                  CAST((n_docs - df + 0.5) / (df + 0.5)
                       * (tf * 2.2)
                       / (tf + 1.2 * (0.25 + 0.75 * len / (sum_len / n_docs)))
                    AS DECIMAL(28,16)) AS term_score
                FROM tf JOIN dfx USING (tok), stats)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
                round(CAST(sum(term_score) AS DOUBLE), 6) AS score
         FROM ts GROUP BY 1
         ORDER BY CAST(sum(term_score) AS DOUBLE) DESC, doc_id ASC
         LIMIT 20"""),
    Query("t_kn_lm", (s, dir) => {
      // interpolated Kneser–Ney bigram smoothing (Kneser & Ney ICASSP'95;
      // Chen & Goodman CSL'99 crowned it the best-performing n-gram
      // smoother — it is what KenLM implements and what CCNet's quality
      // filter LM runs on): P(w2|w1) = max(c12−D,0)/c1 +
      // (D·N1+(w1·)/c1)·N1+(·w2)/N1+(··), D = 0.75. The insight over
      // add-one (t_ngram_lm) is the CONTINUATION count: a word's unigram
      // weight is how many distinct contexts precede it, not its raw
      // frequency — "Francisco" is frequent but predictable, so KN
      // discounts it. Every input is an exact integer (bigram counts,
      // distinct-successor/predecessor counts, distinct bigram types);
      // all four statistics reduce from the SAME map-side-combined bigram
      // frame (checkpointed, consumed 4×), the type total is a 1-row
      // broadcast scalar (the t_ngram_lm vocab pattern), and P is a
      // fixed parenthesized IEEE chain over those integers — bit-identical
      // cross-engine. D = 0.75 is exactly representable. Top-50 with a
      // total order for a deterministic cut.
      val grams = docs(s, dir)
        .select(explode(TextFunctions.ngrams(
          TextFunctions.tokens(col("text")), 2)).as("pair"))
      val bi = grams.groupBy("pair").agg(count(lit(1)).as("c12"))
        .withColumn("w1", substring_index(col("pair"), " ", 1))
        .withColumn("w2", substring_index(col("pair"), " ", -1))
        .localCheckpoint()
      val ctx = bi.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1_fwd"))
      val prec = bi.groupBy("w2").agg(count(lit(1)).as("n1_prec"))
      val total = bi.agg(count(lit(1)).as("nb"))
      bi.join(ctx, "w1").join(prec, "w2")
        .crossJoin(broadcast(total))
        .select(col("pair"), col("c12"), col("c1"),
          col("n1_fwd"), col("n1_prec"),
          round(
            greatest(col("c12") - lit(0.75), lit(0.0)) / col("c1")
              + ((lit(0.75) * col("n1_fwd")) / col("c1"))
                * (col("n1_prec") / col("nb")), 9).as("p_kn"))
        .orderBy(col("c12").desc, col("pair").asc)
        .limit(50)
    }, oracle =
      // the identical four integer statistics off one bigram frame and the
      // identically-parenthesized IEEE chain (D = 0.75 exactly
      // representable; / is float division in both engines)
      """WITH grams AS (
           SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
           FROM (SELECT string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 2),
         bi AS MATERIALIZED (
           SELECT pair, count(*) AS c12,
                  string_split(pair, ' ')[1] AS w1,
                  string_split(pair, ' ')[2] AS w2
           FROM grams GROUP BY 1),
         ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                        count(*) AS n1_fwd
                 FROM bi GROUP BY 1),
         prec AS (SELECT w2, count(*) AS n1_prec FROM bi GROUP BY 1),
         total AS (SELECT count(*) AS nb FROM bi)
         SELECT bi.pair, CAST(bi.c12 AS BIGINT) AS c12, ctx.c1,
                ctx.n1_fwd, prec.n1_prec,
                round(greatest(bi.c12 - 0.75, 0.0) / ctx.c1
                      + ((0.75 * ctx.n1_fwd) / ctx.c1)
                        * (prec.n1_prec / total.nb), 9) AS p_kn
         FROM bi JOIN ctx USING (w1) JOIN prec USING (w2), total
         ORDER BY c12 DESC, pair ASC LIMIT 50"""),
    Query("t_kn_score", (s, dir) => {
      // the CCNet filter shape PROPER (Wenzek et al. LREC 2020): a
      // Kneser–Ney LM TRAINED on the clean split scores the WHOLE corpus
      // — t_kn_lm builds the model, this op deploys it. Train = the
      // doc_id%5=0 split (the t_bpe_encode split convention: the LM must
      // not be fit on the text it filters); apply = every doc's bigram
      // stream LEFT-joined to the trained statistics, with principled
      // backoff where the model has gaps: pair unseen → the KN formula
      // at c12 = 0 (discounted mass times the continuation probability);
      // CONTEXT w1 unseen → pure continuation P_cont(w2) =
      // N1+(·w2)/N1+(··); w2 also unseen → 0. Per-doc score = mean p
      // (the t_lm_quality libm-free substitution — each p is a fixed
      // IEEE chain over exact integers, per-doc sums in DECIMAL(28,16)),
      // plus the OOV-context count a filter thresholds jointly with the
      // mean. Plan: the four model statistics reduce from ONE
      // checkpointed train-bigram frame (the t_kn_lm shape); apply is
      // pair/w1/w2 key-equality left joins on the corpus bigram stream —
      // corpus-sized shuffles on string keys that bucket at scale; the
      // type total is a 1-row broadcast.
      val d = docs(s, dir)
      def grams(src: DataFrame) = src.select(col("doc_id"),
        explode(TextFunctions.ngrams(
          TextFunctions.tokens(col("text")), 2)).as("pair"))
      val bi = grams(d.filter(col("doc_id") % 5 === 0))
        .groupBy("pair").agg(count(lit(1)).as("c12"))
        .withColumn("w1", substring_index(col("pair"), " ", 1))
        .withColumn("w2", substring_index(col("pair"), " ", -1))
        .localCheckpoint()
      val ctx = bi.groupBy("w1")
        .agg(sum("c12").as("c1"), count(lit(1)).as("n1_fwd"))
      val prec = bi.groupBy("w2").agg(count(lit(1)).as("n1_prec"))
      val total = bi.agg(count(lit(1)).as("nb"))
      val corpus = grams(d)
        .withColumn("w1", substring_index(col("pair"), " ", 1))
        .withColumn("w2", substring_index(col("pair"), " ", -1))
      corpus
        .join(bi.select("pair", "c12"), Seq("pair"), "left")
        .join(ctx, Seq("w1"), "left")
        .join(prec, Seq("w2"), "left")
        .crossJoin(broadcast(total))
        .withColumn("pcont",
          coalesce(col("n1_prec"), lit(0L)) / col("nb"))
        .withColumn("p",
          when(col("c1").isNotNull,
            greatest(coalesce(col("c12"), lit(0L)) - lit(0.75), lit(0.0))
              / col("c1")
              + ((lit(0.75) * col("n1_fwd")) / col("c1")) * col("pcont"))
            .otherwise(col("pcont")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("c1").isNull, lit(1L)).otherwise(lit(0L)))
            .as("n_oov_ctx"),
          round(sum(col("p").cast(DecimalType(28, 16))).cast("double")
            / count(lit(1)), 9).as("mean_p"))
    }, oracle =
      // the t_kn_lm statistics CTEs restricted to the train split, then
      // the identical left-join apply with the identically-parenthesized
      // backoff chain (integer/integer division is float division in
      // both engines; the decimal per-doc sum is order-independent)
      """WITH tg AS (
           SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
           FROM (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE doc_id % 5 = 0)
           WHERE len(toks) >= 2),
         bi AS MATERIALIZED (
           SELECT pair, count(*) AS c12,
                  string_split(pair, ' ')[1] AS w1,
                  string_split(pair, ' ')[2] AS w2
           FROM tg GROUP BY 1),
         ctx AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
                        count(*) AS n1_fwd
                 FROM bi GROUP BY 1),
         prec AS (SELECT w2, count(*) AS n1_prec FROM bi GROUP BY 1),
         total AS (SELECT count(*) AS nb FROM bi),
         cg AS (SELECT doc_id, pair,
                       string_split(pair, ' ')[1] AS w1,
                       string_split(pair, ' ')[2] AS w2
                FROM (SELECT doc_id,
                        unnest(list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1])) AS pair
                      FROM (SELECT doc_id, string_split(text, ' ') AS toks
                            FROM documents)
                      WHERE len(toks) >= 2)),
         sc AS (SELECT cg.doc_id,
                  CASE WHEN ctx.c1 IS NOT NULL THEN
                    greatest(COALESCE(bi.c12, 0) - 0.75, 0.0) / ctx.c1
                      + ((0.75 * ctx.n1_fwd) / ctx.c1)
                        * (COALESCE(prec.n1_prec, 0) / total.nb)
                  ELSE COALESCE(prec.n1_prec, 0) / total.nb END AS p,
                  CASE WHEN ctx.c1 IS NULL THEN 1 ELSE 0 END AS oov
                FROM cg
                LEFT JOIN bi ON cg.pair = bi.pair
                LEFT JOIN ctx ON cg.w1 = ctx.w1
                LEFT JOIN prec ON cg.w2 = prec.w2
                CROSS JOIN total)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                CAST(sum(oov) AS BIGINT) AS n_oov_ctx,
                round(CAST(sum(CAST(p AS DECIMAL(28,16))) AS DOUBLE)
                  / count(*), 9) AS mean_p
         FROM sc GROUP BY 1"""),
    Query("t_bpe_pairs", (s, dir) =>
      // corpus-global adjacent-pair frequencies — the merge-candidate
      // statistic a BPE/WordPiece tokenizer trainer recomputes each round
      // (here over whitespace tokens; the real trainer iterates the same
      // plan over its evolving symbol sequences). Positional bigrams keep
      // duplicates, partial aggregation absorbs the pair stream map-side,
      // and the top-20 carries a total order (count desc, pair asc) so the
      // cut is deterministic in both engines.
      docs(s, dir)
        .select(explode(TextFunctions.ngrams(
          TextFunctions.tokens(col("text")), 2)).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("pair").asc)
        .limit(20), oracle =
      """WITH grams AS (
           SELECT unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
           FROM (SELECT string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 2)
         SELECT pair, count(*) AS n FROM grams
         GROUP BY 1 ORDER BY n DESC, pair ASC LIMIT 20"""),
    Query("t_decontaminate", (s, dir) => {
      // benchmark decontamination: score every training doc by the fraction
      // of its distinct 3-gram shingles that appear in a held-out benchmark
      // set (source 'src0' stands in for the eval suite). The overlap test
      // is one shingle-equality semi join — the benchmark side is tiny and
      // broadcast-able at any corpus scale; downstream filters pick the
      // removal threshold on the exact rational (n_hit, n_sh) pair.
      val d = docs(s, dir)
      val corpusSh = TextDedup.shingleTable(
        d.filter(col("source") =!= "src0"), "doc_id", "text", 3)
      val benchSh = TextDedup.shingleTable(
        d.filter(col("source") === "src0"), "doc_id", "text", 3)
        .select("sh").distinct()
      val sizes = corpusSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val hits = corpusSh.join(benchSh, Seq("sh"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      sizes.join(hits, Seq("doc_id"))
        .withColumn("overlap",
          round(col("n_hit").cast("double") / col("n_sh"), 6))
    }, oracle =
      s"""WITH $shingleSql,
         corpus AS (SELECT s.doc_id, s.sh FROM sh s JOIN documents d USING(doc_id)
                    WHERE d.source <> 'src0'),
         bench AS (SELECT DISTINCT s.sh FROM sh s JOIN documents d USING(doc_id)
                   WHERE d.source = 'src0'),
         sizes AS (SELECT doc_id, count(*) AS n_sh FROM corpus GROUP BY 1),
         hits AS (SELECT doc_id, count(*) AS n_hit FROM corpus
                  WHERE sh IN (SELECT sh FROM bench) GROUP BY 1)
         SELECT s.doc_id, s.n_sh, h.n_hit,
                round(CAST(h.n_hit AS DOUBLE) / s.n_sh, 6) AS overlap
         FROM sizes s JOIN hits h USING(doc_id)"""),
    Query("t_confusion", (s, dir) => {
      // classifier evaluation: confusion matrix of the langid vote vs the
      // labeled language, with per-cell recall (row-normalized) and
      // precision (column-normalized) fractions — the eval artifact every
      // model-driven filter in a data pipeline reports. Two window sums
      // over the tiny confusion frame; the heavy work is the same
      // marker-count scan as t_langid.
      import org.apache.spark.sql.expressions.Window
      val cm = withMarkerCounts(docs(s, dir))
        .select(col("lang"), predLang.as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
      cm.withColumn("recall_frac",
          round(col("n").cast("double") /
            sum("n").over(Window.partitionBy("lang")), 6))
        .withColumn("precision_frac",
          round(col("n").cast("double") /
            sum("n").over(Window.partitionBy("pred_lang")), 6))
    }, oracle =
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT doc_id, lang,
                 len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS n_en,
                 len(list_filter(toks, x -> x IN ('el','la','los','es','y'))) AS n_es,
                 len(list_filter(toks, x -> x IN ('le','les','des','et','est'))) AS n_fr,
                 len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS n_de,
                 len(list_filter(toks, x -> x IN ('de0','shi4','le0','zai4','wo3'))) AS n_zh
               FROM t),
         p AS (SELECT lang,
                 CASE WHEN n_zh > greatest(n_en, n_es, n_fr, n_de) THEN 'zh'
                      WHEN n_de > greatest(n_en, n_es, n_fr) THEN 'de'
                      WHEN n_fr > greatest(n_en, n_es) THEN 'fr'
                      WHEN n_es > n_en THEN 'es'
                      ELSE 'en' END AS pred_lang
               FROM c),
         cm AS (SELECT lang, pred_lang, count(*) AS n FROM p GROUP BY 1, 2)
         SELECT lang, pred_lang, n,
                round(CAST(n AS DOUBLE) /
                  sum(n) OVER (PARTITION BY lang), 6) AS recall_frac,
                round(CAST(n AS DOUBLE) /
                  sum(n) OVER (PARTITION BY pred_lang), 6) AS precision_frac
         FROM cm"""),
    Query("t_calibration", (s, dir) => {
      // classifier calibration curve (reliability diagram): bin the langid
      // vote's confidence (winning marker count / tokens) and report per-bin
      // observed accuracy — THE artifact that tells a pipeline whether its
      // quality/filter model's scores mean what they claim before it gates
      // terabytes on them. The bin index is ALL-INTEGER ((win*20) DIV toks
      // — no float bin edges to straddle an ulp); accuracy and mean
      // confidence are a single division of exact operands each (decimal
      // sum for the mean, per the determinism contract).
      val mc = withMarkerCounts(docs(s, dir))
      val winC = greatest(col("n_en"), col("n_es"), col("n_fr"),
        col("n_de"), col("n_zh"))
      val toks = size(TextFunctions.tokens(col("text")))
      mc.select(col("lang"), predLang.as("pred_lang"),
          winC.as("win"), toks.as("n_toks"))
        .withColumn("bin", expr("(win * 20) DIV n_toks").cast(IntegerType))
        .withColumn("conf",
          col("win").cast("double") / col("n_toks").cast("double"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("conf").cast(DecimalType(28, 16))).cast("double")
            / count(lit(1)), 6).as("mean_conf"),
          round(sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)), 6).as("accuracy"))
    }, oracle =
      // all-integer bin; mean_conf via exact decimal sum over identical
      // IEEE divisions; accuracy one division of exact integers
      """WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
         c AS (SELECT lang,
                 CAST(len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS INTEGER) AS n_en,
                 CAST(len(list_filter(toks, x -> x IN ('el','la','los','es','y'))) AS INTEGER) AS n_es,
                 CAST(len(list_filter(toks, x -> x IN ('le','les','des','et','est'))) AS INTEGER) AS n_fr,
                 CAST(len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS INTEGER) AS n_de,
                 CAST(len(list_filter(toks, x -> x IN ('de0','shi4','le0','zai4','wo3'))) AS INTEGER) AS n_zh,
                 CAST(len(toks) AS INTEGER) AS n_toks
               FROM t),
         s AS (SELECT lang,
                 CASE WHEN n_zh > greatest(n_en, n_es, n_fr, n_de) THEN 'zh'
                      WHEN n_de > greatest(n_en, n_es, n_fr) THEN 'de'
                      WHEN n_fr > greatest(n_en, n_es) THEN 'fr'
                      WHEN n_es > n_en THEN 'es'
                      ELSE 'en' END AS pred_lang,
                 greatest(n_en, n_es, n_fr, n_de, n_zh) AS win, n_toks
               FROM c)
         SELECT CAST((win * 20) // n_toks AS INTEGER) AS bin,
                count(*) AS n_docs,
                round(CAST(sum(CAST(CAST(win AS DOUBLE) / CAST(n_toks AS DOUBLE)
                                    AS DECIMAL(28,16))) AS DOUBLE) / count(*), 6) AS mean_conf,
                round(CAST(sum(CASE WHEN pred_lang = lang THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS accuracy
         FROM s GROUP BY 1"""),
    Query("t_redact", (s, dir) => {
      // regex scrub pass — the PII-redaction shape (emails/ids/phone masks)
      // over a denylist of word patterns, entirely per-row so it fuses into
      // the scan's codegen stage. Both engines use RE2-compatible syntax
      // (\b word boundaries, alternation) so the match sets are identical;
      // the scrubbed text is carried as md5 + length, not re-emitted.
      val pat = "\\b(customer|order|spark)\\b"
      val red = regexp_replace(col("text"), pat, "<x>")
      docs(s, dir).select(col("doc_id"),
        regexp_count(col("text"), lit(pat)).as("n_hits"),
        length(red).as("red_len"),
        md5(red).as("red_hash"))
    }, oracle =
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\b(customer|order|spark)\b')) AS INTEGER) AS n_hits,
                CAST(length(regexp_replace(text, '\b(customer|order|spark)\b', '<x>', 'g')) AS INTEGER) AS red_len,
                md5(regexp_replace(text, '\b(customer|order|spark)\b', '<x>', 'g')) AS red_hash
         FROM documents"""),
    Query("t_dup_spans", (s, dir) => {
      // cross-document duplicated-span profile: for each doc, the fraction
      // of its distinct 8-gram spans that occur in at least one OTHER doc —
      // the n-gram formulation of exact substring dedup (Lee et al.,
      // "Deduplicating Training Data Makes Language Models Better", ACL'22,
      // at fixed span length). Span df is a key-equality aggregate, never
      // all-pairs; the span frame fans out to three consumers, so the
      // repartition barrier + ReuseExchange computes the explode once.
      val spans = TextDedup.shingleTable(docs(s, dir), "doc_id", "text", 8)
        .repartition(col("doc_id"))
      val dfreq = spans.groupBy("sh")
        .agg(countDistinct(col("doc_id")).as("df_cnt"))
      val sizes = spans.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
      val dups = spans.join(dfreq.filter(col("df_cnt") >= 2), "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
      sizes.join(dups, Seq("doc_id"), "left")
        .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
        .withColumn("dup_ratio",
          round(col("n_dup").cast("double") / col("n_spans"), 6))
    }, oracle =
      """WITH sp AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, len(toks) - 7),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                         toks[i+3] || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' ||
                         toks[i+6] || ' ' || toks[i+7]))) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 8),
         dfreq AS (SELECT sh, count(DISTINCT doc_id) AS df_cnt FROM sp GROUP BY 1),
         sizes AS (SELECT doc_id, count(*) AS n_spans FROM sp GROUP BY 1),
         dups AS (SELECT doc_id, count(*) AS n_dup
                  FROM sp JOIN dfreq USING (sh) WHERE df_cnt >= 2 GROUP BY 1)
         SELECT s.doc_id, s.n_spans, COALESCE(d.n_dup, 0) AS n_dup,
                round(CAST(COALESCE(d.n_dup, 0) AS DOUBLE) / s.n_spans, 6) AS dup_ratio
         FROM sizes s LEFT JOIN dups d USING (doc_id)"""),
    Query("d_exact", (s, dir) =>
      TextDedup.exactGroups(docs(s, dir), "doc_id", "text"), oracle =
      """SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
         FROM documents GROUP BY 1"""),
    Query("d_dup_span_extract", (s, dir) => {
      // the REMOVAL step of exact-substring dedup (Lee et al. ACL'22):
      // t_dup_spans reports how duplicated a doc is; this op emits WHICH
      // token ranges to cut — every maximal span covered by duplicated
      // 8-token windows. Positional (not distinct) windows, so in-doc
      // repetition counts like cross-doc (occ >= 2 over the whole
      // corpus); overlapping duplicated windows merge into maximal spans
      // by gaps-and-islands (a window at pos p covers [p, p+7]; a new
      // island starts when pos exceeds the running max end). Plan:
      // window fan-out fuses into the scan, occurrence count is a
      // map-side-combinable agg on the gram key, the island pass sorts
      // only the DUPLICATED positions per doc — never the corpus.
      dupSpans(docs(s, dir))
    }, oracle =
      // positional 8-token windows (1-based i → 0-based pos), global
      // occ >= 2, then the same gaps-and-islands merge (running max end,
      // new island when pos > prev_end)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         w AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
               FROM t WHERE len(toks) >= 8),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                      array_to_string(toks[i:i+7], ' ') AS gram
               FROM w),
         f AS (SELECT gram, count(*) AS occ FROM g GROUP BY 1),
         d AS (SELECT doc_id, pos FROM g JOIN f USING (gram) WHERE occ >= 2),
         m AS (SELECT doc_id, pos,
                 max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
               FROM d),
         fl AS (SELECT doc_id, pos,
                  CASE WHEN prev_end IS NULL OR pos > prev_end
                       THEN 1 ELSE 0 END AS ni
                FROM m),
         gr AS (SELECT doc_id, pos,
                  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM fl)
         SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                CAST(max(pos) + 7 AS BIGINT) AS span_end,
                count(*) AS n_windows
         FROM gr GROUP BY doc_id, island"""),
    Query("d_dedup_cut", (s, dir) => {
      // ...and the CUT itself, hash-gated end to end: every token inside
      // a duplicated span is removed and the md5 of the re-joined
      // remainder is the gate — so window detection, island merge, range
      // anti join, and order-preserving reassembly must ALL agree with
      // the oracle to the byte. Fully-duplicated docs survive as
      // (0 tokens, md5('')). The anti join has an equality key (doc_id)
      // with the range as a residual predicate — per-doc buckets, never
      // a cartesian; reassembly sorts WITHIN a doc's kept tokens only
      // (array_sort of (pos, tok) structs — pos is unique, so the order
      // is total and engine-independent).
      val d = docs(s, dir)
      val spans = dupSpans(d)
      val toks = d.select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))))
        .toDF("doc_id", "pos", "tok")
        .withColumn("pos", col("pos").cast(LongType))
      val kept = toks.as("t").join(spans.as("sp"),
        col("t.doc_id") === col("sp.doc_id")
          && col("t.pos") >= col("sp.span_start")
          && col("t.pos") <= col("sp.span_end"), "left_anti")
      val agg = kept.groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens_kept"),
          md5(array_join(transform(
            array_sort(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ")).as("cleaned_hash"))
      d.select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
          coalesce(col("cleaned_hash"), md5(lit(""))).as("cleaned_hash"))
    }, oracle =
      // the span replay (identical CTE chain) + positional token table,
      // NOT EXISTS range anti join, order-preserving string_agg, md5 gate;
      // fully-cut docs surface as (0, md5(''))
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         w AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
               FROM t WHERE len(toks) >= 8),
         g AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
                      array_to_string(toks[i:i+7], ' ') AS gram
               FROM w),
         f AS (SELECT gram, count(*) AS occ FROM g GROUP BY 1),
         d AS (SELECT doc_id, pos FROM g JOIN f USING (gram) WHERE occ >= 2),
         m AS (SELECT doc_id, pos,
                 max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
               FROM d),
         fl AS (SELECT doc_id, pos,
                  CASE WHEN prev_end IS NULL OR pos > prev_end
                       THEN 1 ELSE 0 END AS ni
                FROM m),
         gr AS (SELECT doc_id, pos,
                  sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
                FROM fl),
         spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
                          CAST(max(pos) + 7 AS BIGINT) AS span_end
                   FROM gr GROUP BY doc_id, island),
         tok AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
                 FROM (SELECT doc_id, toks,
                              unnest(generate_series(1, len(toks))) AS i
                       FROM t)),
         kept AS (SELECT k.doc_id, k.pos, k.tok FROM tok k
                  WHERE NOT EXISTS (
                    SELECT 1 FROM spans s
                    WHERE s.doc_id = k.doc_id
                      AND k.pos BETWEEN s.span_start AND s.span_end)),
         agg AS (SELECT doc_id, count(*) AS n_tokens_kept,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_hash
                 FROM kept GROUP BY 1)
         SELECT dd.doc_id,
                CAST(COALESCE(a.n_tokens_kept, 0) AS BIGINT) AS n_tokens_kept,
                COALESCE(a.cleaned_hash, md5('')) AS cleaned_hash
         FROM documents dd LEFT JOIN agg a USING (doc_id)"""),
    Query("d_line_dedup", (s, dir) => {
      // LINE-level boilerplate dedup (the CCNet/RefinedWeb pre-filter):
      // web corpora carry nav bars / cookie banners / footers repeated
      // verbatim across millions of pages, removed by hashing LINES and
      // dropping those whose cross-document frequency clears a threshold.
      // The corpus texts carry no newlines, so the segmentation step is
      // explicit: a line = 8 consecutive tokens (fixed chunking, trailing
      // partial kept). Per doc: line count, boilerplate-line count (lines
      // appearing in >= 2 DISTINCT docs), ratio. Plan: chunking fuses into
      // the scan (one generator), line-frequency is a map-side-combinable
      // agg on the line key, the flag joins back on the same key — two
      // bucketed shuffles, each ~tokens/8 rows, never corpus².
      val lines = docs(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), expr(
          """explode(transform(sequence(0, (size(t)+7) div 8 - 1),
                     i -> array_join(slice(t, i*8+1, 8), ' ')))""").as("line"))
      val lf = lines.groupBy("line")
        .agg(countDistinct(col("doc_id")).as("line_df"))
      lines.join(lf, "line")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("line_df") >= 2, 1L).otherwise(0L)).as("n_boiler"))
        .withColumn("boiler_ratio",
          round(col("n_boiler").cast("double") / col("n_lines"), 6))
    }, oracle =
      // same fixed 8-token chunking ((len+7)//8 lines, inclusive-slice
      // semantics match Spark's slice(t, i*8+1, 8)), same df >= 2 rule
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         lines AS (
           SELECT doc_id, unnest(list_transform(range(0, (len(t)+7)//8),
                    i -> array_to_string(t[i*8+1:i*8+8], ' '))) AS line
           FROM toks),
         lf AS (SELECT line, count(DISTINCT doc_id) AS line_df FROM lines GROUP BY 1)
         SELECT doc_id, count(*) AS n_lines,
                CAST(sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
                round(CAST(sum(CASE WHEN line_df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS boiler_ratio
         FROM lines JOIN lf USING (line) GROUP BY doc_id"""),
    Query("d_ngram_jaccard", (s, dir) =>
      // threshold 3/10 = Jaccard >= 0.3 over distinct word 3-grams; the
      // stop-shingle cap (df <= 1000) is mirrored in the oracle's candidate
      // generation so engine and oracle agree at ANY scale factor, not just
      // ones where no shingle exceeds the cap
      TextDedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", 3, 3, 10,
        maxShingleDf = 1000), oracle =
      // mirrors the engine's two-phase plan exactly: candidates must share
      // >= 1 RARE shingle (doc-frequency <= 1000, the stop-shingle cap);
      // the intersection is then exact over the FULL shingle sets, so the
      // Jaccard value is unbiased by the cap
      s"""WITH $shingleSql,
         dfreq AS (SELECT sh, count(*) AS df_cnt FROM sh GROUP BY 1),
         rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfreq USING (sh)
                  WHERE df_cnt <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         p AS (SELECT doc_a, doc_b, count(*) AS inter_cnt
               FROM cand
               JOIN sh a ON a.doc_id = cand.doc_a
               JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh
               GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(inter_cnt AS BIGINT) AS inter_cnt,
                round(CAST(inter_cnt AS DOUBLE)/(sa.n + sb.n - inter_cnt), 6) AS jaccard
         FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
         WHERE inter_cnt * 10 >= (sa.n + sb.n - inter_cnt) * 3"""),
    Query("d_ppjoin", (s, dir) =>
      // prefix-filtered Jaccard join (PPJoin candidate rule) at the SAME
      // 3/10 threshold as d_ngram_jaccard: provably complete candidates,
      // so both queries must return identical pairs — two independent
      // algorithms cross-checking each other through their oracles
      TextDedup.ppjoinPairs(docs(s, dir), "doc_id", "text", 3, 3, 10), oracle =
      // mirrors the engine's prefix rule: per-doc (df, shingle) order,
      // prefix size n - ceil(3n/10) + 1, exact intersection over full sets
      s"""WITH $shingleSql,
         dfreq AS (SELECT sh, count(*) AS df_cnt FROM sh GROUP BY 1),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pre AS (SELECT doc_id, sh FROM (
                   SELECT s.doc_id, s.sh,
                          row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df_cnt, s.sh) AS rn,
                          z.n
                   FROM sh s JOIN dfreq d USING (sh) JOIN sz z USING (doc_id))
                 WHERE rn <= n - ((3 * n + 9) // 10) + 1),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM pre a JOIN pre b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         p AS (SELECT doc_a, doc_b, count(*) AS inter_cnt
               FROM cand
               JOIN sh a ON a.doc_id = cand.doc_a
               JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh
               GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(inter_cnt AS BIGINT) AS inter_cnt,
                round(CAST(inter_cnt AS DOUBLE)/(sa.n + sb.n - inter_cnt), 6) AS jaccard
         FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
         WHERE inter_cnt * 10 >= (sa.n + sb.n - inter_cnt) * 3"""),
    Query("d_ppjoin_capped", (s, dir) => {
      // the DEPLOYMENT path of d_ppjoin, now oracle-gated end to end: the
      // hot-prefix-key cap is derived from the corpus itself by the EXACT
      // rank-based calibration (value at ascending rank ⌈0.99·k⌉ of the
      // prefix-key frequency distribution, ×4 headroom, floor 16 —
      // derivePrefixDfCapExact; the approx_percentile variant stays for
      // callers that don't need cross-engine replay), then keys hotter
      // than the cap are excluded from candidate generation. The sf1
      // scaling runs are WHY this is first-class: uncapped d_ppjoin's
      // verification join was the one superlinear member of the heavy
      // families (7.9 s → 128 s at 10× corpus), and the cap is the
      // documented completeness trade that bounds it.
      // ONE checkpointed prefix frame feeds both the calibration and the
      // candidate join — the shingle→window→prefix pipeline runs once,
      // so the capped query costs ~the uncapped one plus two k-row
      // driver actions (was: three full prefix pipelines)
      val d = docs(s, dir)
      val prefix = TextDedup.ppjoinPrefix(d, "doc_id", "text", 3, 3, 10)
        .localCheckpoint(true)
      val cap = TextDedup.derivePrefixDfCapExactFrom(prefix)
      TextDedup.ppjoinPairs(d, "doc_id", "text", 3, 3, 10,
        maxPrefixDf = cap, prefixOverride = Some(prefix))
    }, oracle =
      // the d_ppjoin replay with the exact rank-derived cap: the value at
      // ascending rank ceil(0.99·k) of the prefix-key frequency table
      // (total order (f, sh)), ×4, floored at 16; keys above it leave the
      // candidate join. Both engines derive the identical integer cap.
      s"""WITH $shingleSql,
         dfreq AS (SELECT sh, count(*) AS df_cnt FROM sh GROUP BY 1),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pre AS (SELECT doc_id, sh FROM (
                   SELECT s.doc_id, s.sh,
                          row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df_cnt, s.sh) AS rn,
                          z.n
                   FROM sh s JOIN dfreq d USING (sh) JOIN sz z USING (doc_id))
                 WHERE rn <= n - ((3 * n + 9) // 10) + 1),
         pfreq AS (SELECT sh, count(*) AS pf FROM pre GROUP BY 1),
         kq AS (SELECT count(*) AS k FROM pfreq),
         qv AS (SELECT max(pf) AS q FROM (
                  SELECT pf FROM pfreq ORDER BY pf ASC, sh ASC
                  LIMIT (SELECT CAST(ceil(0.99 * k) AS BIGINT) FROM kq))),
         cap AS (SELECT greatest(16, least(q * 4, 2147483647)) AS c FROM qv),
         keep AS (SELECT p.doc_id, p.sh FROM pre p JOIN pfreq USING (sh), cap
                  WHERE pf <= c),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM keep a JOIN keep b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         p AS (SELECT doc_a, doc_b, count(*) AS inter_cnt
               FROM cand
               JOIN sh a ON a.doc_id = cand.doc_a
               JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh
               GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(inter_cnt AS BIGINT) AS inter_cnt,
                round(CAST(inter_cnt AS DOUBLE)/(sa.n + sb.n - inter_cnt), 6) AS jaccard
         FROM p JOIN sz sa ON p.doc_a = sa.doc_id JOIN sz sb ON p.doc_b = sb.doc_id
         WHERE inter_cnt * 10 >= (sa.n + sb.n - inter_cnt) * 3"""),
    Query("d_containment", (s, dir) =>
      // asymmetric containment >= 7/10 (Broder SEQUENCES'97): catches
      // snippets/quotes swallowed by larger docs that Jaccard's union
      // denominator hides; directed pairs, rational threshold
      TextDedup.containmentPairs(docs(s, dir), "doc_id", "text", 3, 7, 10,
        maxShingleDf = 1000), oracle =
      // same candidate discipline as the engine: rare-shingle (df <= 1000)
      // candidates, exact intersection over full sets, then BOTH directions
      // scored against the source doc's own shingle count
      s"""WITH $shingleSql,
         dfreq AS (SELECT sh, count(*) AS df_cnt FROM sh GROUP BY 1),
         rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfreq USING (sh)
                  WHERE df_cnt <= 1000),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         p AS (SELECT doc_a, doc_b, count(*) AS inter_cnt
               FROM cand
               JOIN sh a ON a.doc_id = cand.doc_a
               JOIN sh b ON b.doc_id = cand.doc_b AND b.sh = a.sh
               GROUP BY 1, 2),
         directed AS (SELECT doc_a, doc_b, inter_cnt FROM p
                      UNION ALL
                      SELECT doc_b AS doc_a, doc_a AS doc_b, inter_cnt FROM p)
         SELECT d.doc_a, d.doc_b, CAST(d.inter_cnt AS BIGINT) AS inter_cnt,
                CAST(sa.n AS BIGINT) AS n_a,
                round(CAST(d.inter_cnt AS DOUBLE) / sa.n, 6) AS containment
         FROM directed d JOIN sz sa ON d.doc_a = sa.doc_id
         WHERE d.inter_cnt * 10 >= sa.n * 7"""),
    Query("d_minhash_lsh", (s, dir) =>
      // 15 hashes, 5 bands × 3 rows — candidates from band collisions
      TextDedup.minhashLshPairs(docs(s, dir), "doc_id", "text", 3, 15, 3), oracle =
      s"""WITH $shingleSql,
         sigs AS (SELECT doc_id, seed, min(md5(sh || ':' || CAST(seed AS VARCHAR))) AS sig
                  FROM sh, (SELECT unnest(generate_series(0, 14)) AS seed) s GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 3 AS band,
                          md5(string_agg(sig, ',' ORDER BY seed)) AS bkey
                   FROM sigs GROUP BY 1, 2),
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
         SELECT doc_a, doc_b,
                CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS BIGINT) AS n_equal,
                round(CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE)/15, 6) AS est_sim
         FROM cand JOIN sigs sa ON cand.doc_a = sa.doc_id
                   JOIN sigs sb ON cand.doc_b = sb.doc_id AND sa.seed = sb.seed
         GROUP BY doc_a, doc_b"""),
    Query("d_dedup_eval", (s, dir) => {
      // dedup-rollout acceptance gate, hash-gated like v_recall_eval:
      // precision/recall of the MinHash-LSH path (n_equal ≥ 4, est_sim
      // ≥ 4/15 ≈ 0.27 — deliberately just UNDER the truth threshold so
      // borderline false positives surface — rational, no FP) vs the exact
      // df-capped n-gram Jaccard ground truth at 0.3. Both pipelines are
      // the declared operators themselves; the closing arithmetic runs on
      // three 1-row counts (sanctioned broadcasts). The NUMBERS are the
      // contract — estimator drift fails the round, not a dashboard.
      val d = docs(s, dir)
      val truth = TextDedup.ngramJaccardPairs(d, "doc_id", "text", 3, 3, 10,
          maxShingleDf = 1000)
        .select(col("doc_a").as("ta"), col("doc_b").as("tb"))
      val pred = TextDedup.minhashLshPairs(d, "doc_id", "text", 3, 15, 3)
        .filter(col("n_equal") >= 4)
        .select("doc_a", "doc_b")
      val tp = pred.join(truth,
        col("doc_a") === col("ta") && col("doc_b") === col("tb"), "left_semi")
      pred.agg(count(lit(1)).as("n_pred"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(tp.agg(count(lit(1)).as("n_tp")))
        .select(col("n_tp"), col("n_pred"), col("n_truth"),
          round(col("n_tp").cast("double") / col("n_pred").cast("double"), 6)
            .as("prec"),
          round(col("n_tp").cast("double") / col("n_truth").cast("double"), 6)
            .as("rec"))
    }, oracle =
      // both declared pipelines' oracle bodies composed over one shared
      // shingle CTE; thresholds as the same rationals
      s"""WITH $shingleSql,
         dfreq AS (SELECT sh, count(*) AS df_cnt FROM sh GROUP BY 1),
         rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfreq USING (sh)
                  WHERE df_cnt <= 1000),
         candt AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pt AS (SELECT doc_a, doc_b, count(*) AS inter_cnt
                FROM candt
                JOIN sh a ON a.doc_id = candt.doc_a
                JOIN sh b ON b.doc_id = candt.doc_b AND b.sh = a.sh
                GROUP BY 1, 2),
         truth AS (SELECT doc_a, doc_b
                   FROM pt JOIN sz sa ON pt.doc_a = sa.doc_id
                           JOIN sz sb ON pt.doc_b = sb.doc_id
                   WHERE inter_cnt * 10 >= (sa.n + sb.n - inter_cnt) * 3),
         sigs AS (SELECT doc_id, seed, min(md5(sh || ':' || CAST(seed AS VARCHAR))) AS sig
                  FROM sh, (SELECT unnest(generate_series(0, 14)) AS seed) s GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 3 AS band,
                          md5(string_agg(sig, ',' ORDER BY seed)) AS bkey
                   FROM sigs GROUP BY 1, 2),
         candp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bands a JOIN bands b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         pred AS (SELECT doc_a, doc_b
                  FROM (SELECT doc_a, doc_b,
                               sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS n_equal
                        FROM candp JOIN sigs sa ON candp.doc_a = sa.doc_id
                                   JOIN sigs sb ON candp.doc_b = sb.doc_id AND sa.seed = sb.seed
                        GROUP BY 1, 2) g
                  WHERE n_equal >= 4),
         np AS (SELECT count(*) AS n_pred FROM pred),
         nt AS (SELECT count(*) AS n_truth FROM truth),
         ntp AS (SELECT count(*) AS n_tp FROM pred
                 WHERE EXISTS (SELECT 1 FROM truth t
                               WHERE t.doc_a = pred.doc_a AND t.doc_b = pred.doc_b))
         SELECT CAST(n_tp AS BIGINT) AS n_tp, CAST(n_pred AS BIGINT) AS n_pred,
                CAST(n_truth AS BIGINT) AS n_truth,
                round(CAST(n_tp AS DOUBLE)/CAST(n_pred AS DOUBLE), 6) AS prec,
                round(CAST(n_tp AS DOUBLE)/CAST(n_truth AS DOUBLE), 6) AS rec
         FROM np, nt, ntp"""),
    Query("d_cascade", (s, dir) => {
      // the PRODUCTION dedup recipe as one declared query: tiers run
      // cheapest-first, each on the previous tier's survivors — exact
      // hash groups (md5, keep min id) first, then MinHash-LSH fuzzy
      // pairs (n_equal ≥ 4) over ONLY the exact survivors. Ordering is
      // the economics: at 100 TB the exact tier is one hash aggregate
      // that typically removes the bulk of duplication for ~free, so the
      // quadratic-ish fuzzy machinery sees a smaller corpus. Output is
      // the per-doc disposition (kept / removed_exact / removed_fuzzy) —
      // the lineage column a curation run writes next to the corpus, and
      // the whole cascade (both tiers AND their composition) hash-gates.
      // The synthetic corpus has no byte-identical documents, so the
      // exact tier's work is made real the partsupp way: every 50th doc
      // re-arrives as a clone under doc_id + 1e6 (an ingestion replay),
      // mirrored row-for-row by the oracle — tier 1 must remove exactly
      // the clones (min-id keeps the original), tier 2 the fuzzy pairs.
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val d = base.unionByName(base.filter(col("doc_id") % 50 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L))
      val keep1 = TextDedup.exactGroups(d, "doc_id", "text")
        .select(col("keep_id").as("doc_id")).localCheckpoint()
      val s1 = d.join(keep1, Seq("doc_id"), "left_semi")
      val losers2 = TextDedup.minhashLshPairs(s1, "doc_id", "text", 3, 15, 3)
        .filter(col("n_equal") >= 4)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("l", lit(1))
      d.select(col("doc_id"))
        .join(keep1.withColumn("k", lit(1)), Seq("doc_id"), "left")
        .join(losers2, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("k").isNull, "removed_exact")
            .when(col("l").isNotNull, "removed_fuzzy")
            .otherwise("kept").as("status"))
    }, oracle =
      // tier 1 = the d_exact keep rule; tier 2 = the d_dedup_eval minhash
      // chain rebuilt over tier-1 survivors only; the disposition CASE
      // composes both
      """WITH corpus AS MATERIALIZED (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 1000000 AS doc_id, text FROM documents
           WHERE doc_id % 50 = 0),
         keep AS MATERIALIZED (
           SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
         s1 AS (SELECT d.doc_id, d.text FROM corpus d
                JOIN keep k ON d.doc_id = k.doc_id),
         sh AS (
           SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, len(toks)-2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS sh
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM s1)
           WHERE len(toks) >= 3),
         sigs AS (SELECT doc_id, seed, min(md5(sh || ':' || CAST(seed AS VARCHAR))) AS sig
                  FROM sh, (SELECT unnest(generate_series(0, 14)) AS seed) s GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 3 AS band,
                          md5(string_agg(sig, ',' ORDER BY seed)) AS bkey
                   FROM sigs GROUP BY 1, 2),
         candp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bands a JOIN bands b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         losers AS MATERIALIZED (
           SELECT DISTINCT doc_b FROM (
             SELECT doc_a, doc_b,
                    sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS n_equal
             FROM candp JOIN sigs sa ON candp.doc_a = sa.doc_id
                        JOIN sigs sb ON candp.doc_b = sb.doc_id AND sa.seed = sb.seed
             GROUP BY 1, 2) g
           WHERE n_equal >= 4)
         SELECT d.doc_id,
                CASE WHEN k.doc_id IS NULL THEN 'removed_exact'
                     WHEN l.doc_b IS NOT NULL THEN 'removed_fuzzy'
                     ELSE 'kept' END AS status
         FROM corpus d
         LEFT JOIN keep k ON d.doc_id = k.doc_id
         LEFT JOIN losers l ON d.doc_id = l.doc_b"""),
    Query("d_threshold_sweep", (s, dir) => {
      // dedup THRESHOLD TUNING as one declared query: the d_dedup_eval
      // acceptance gate evaluated at three LSH operating points
      // (n_equal ≥ 3/4/5 ≈ est. Jaccard 0.2/0.27/0.33) in a single plan —
      // pairs and ground truth are computed ONCE, the sweep is a 3-way
      // explode over the already-joined (n_equal, matched) pair table
      // (pairs-sized ×3, nothing corpus-sized repeats). This is how an
      // operating point gets CHOSEN before d_dedup_eval pins it; all
      // three (precision, recall) rows are hash-gated, so estimator
      // drift at any operating point fails the round.
      val d = docs(s, dir)
      val truth = TextDedup.ngramJaccardPairs(d, "doc_id", "text", 3, 3, 10,
          maxShingleDf = 1000)
        .select(col("doc_a").as("ta"), col("doc_b").as("tb"))
      val pm = TextDedup.minhashLshPairs(d, "doc_id", "text", 3, 15, 3)
        .join(truth, col("doc_a") === col("ta") && col("doc_b") === col("tb"),
          "left")
        .select(col("n_equal"), col("ta").isNotNull.as("matched"))
      pm.select(col("n_equal"), col("matched"),
          explode(array(lit(3), lit(4), lit(5))).as("k"))
        .filter(col("n_equal") >= col("k"))
        .groupBy("k")
        .agg(count(lit(1)).as("n_pred"),
          sum(when(col("matched"), 1L).otherwise(0L)).as("n_tp"))
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(col("k"), col("n_tp"), col("n_pred"), col("n_truth"),
          round(col("n_tp").cast("double") / col("n_pred").cast("double"), 6)
            .as("prec"),
          round(col("n_tp").cast("double") / col("n_truth").cast("double"), 6)
            .as("rec"))
    }, oracle =
      // the d_dedup_eval CTE chain with the threshold UNFILTERED pair
      // table, swept by a 3-row cross join — groups with zero surviving
      // pairs vanish identically in both engines
      s"""WITH $shingleSql,
         dfreq AS (SELECT sh, count(*) AS df_cnt FROM sh GROUP BY 1),
         rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfreq USING (sh)
                  WHERE df_cnt <= 1000),
         candt AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM rare a JOIN rare b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
         pt AS (SELECT doc_a, doc_b, count(*) AS inter_cnt
                FROM candt
                JOIN sh a ON a.doc_id = candt.doc_a
                JOIN sh b ON b.doc_id = candt.doc_b AND b.sh = a.sh
                GROUP BY 1, 2),
         truth AS MATERIALIZED (
           SELECT doc_a, doc_b
           FROM pt JOIN sz sa ON pt.doc_a = sa.doc_id
                   JOIN sz sb ON pt.doc_b = sb.doc_id
           WHERE inter_cnt * 10 >= (sa.n + sb.n - inter_cnt) * 3),
         sigs AS (SELECT doc_id, seed, min(md5(sh || ':' || CAST(seed AS VARCHAR))) AS sig
                  FROM sh, (SELECT unnest(generate_series(0, 14)) AS seed) s GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 3 AS band,
                          md5(string_agg(sig, ',' ORDER BY seed)) AS bkey
                   FROM sigs GROUP BY 1, 2),
         candp AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM bands a JOIN bands b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
         predn AS (SELECT doc_a, doc_b,
                          sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS n_equal
                   FROM candp JOIN sigs sa ON candp.doc_a = sa.doc_id
                              JOIN sigs sb ON candp.doc_b = sb.doc_id AND sa.seed = sb.seed
                   GROUP BY 1, 2),
         pm AS (SELECT p.n_equal,
                       EXISTS (SELECT 1 FROM truth t
                               WHERE t.doc_a = p.doc_a AND t.doc_b = p.doc_b)
                         AS matched
                FROM predn p),
         ks AS (SELECT unnest([3, 4, 5]) AS k),
         a AS (SELECT k, count(*) AS n_pred,
                      sum(CASE WHEN matched THEN 1 ELSE 0 END) AS n_tp
               FROM pm CROSS JOIN ks WHERE pm.n_equal >= ks.k GROUP BY 1),
         nt AS (SELECT count(*) AS n_truth FROM truth)
         SELECT CAST(k AS INTEGER) AS k, CAST(n_tp AS BIGINT) AS n_tp,
                CAST(n_pred AS BIGINT) AS n_pred,
                CAST(n_truth AS BIGINT) AS n_truth,
                round(CAST(n_tp AS DOUBLE)/CAST(n_pred AS DOUBLE), 6) AS prec,
                round(CAST(n_tp AS DOUBLE)/CAST(n_truth AS DOUBLE), 6) AS rec
         FROM a, nt"""),
    Query("d_simhash", (s, dir) =>
      TextDedup.simhash(docs(s, dir), "doc_id", "text"), oracle =
      """WITH tok AS (SELECT doc_id, tok, count(*) AS cnt
                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
                      GROUP BY 1, 2),
         bits AS (SELECT doc_id, j,
                         sum(CASE WHEN substr(md5(tok), j + 1, 1) IN ('8','9','a','b','c','d','e','f')
                                  THEN cnt ELSE -cnt END) AS s
                  FROM tok, (SELECT unnest(generate_series(0, 31)) AS j) js GROUP BY 1, 2)
         SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
         FROM bits GROUP BY 1"""),
    Query("d_simhash_pairs", (s, dir) =>
      TextDedup.simhashPairs(docs(s, dir), "doc_id", "text", 2), oracle =
      """WITH tok AS (SELECT doc_id, tok, count(*) AS cnt
                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
                      GROUP BY 1, 2),
         bits AS (SELECT doc_id, j,
                         sum(CASE WHEN substr(md5(tok), j + 1, 1) IN ('8','9','a','b','c','d','e','f')
                                  THEN cnt ELSE -cnt END) AS s
                  FROM tok, (SELECT unnest(generate_series(0, 31)) AS j) js GROUP BY 1, 2),
         sh AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY 1)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         FROM sh a JOIN sh b ON (a.simhash >> 24) = (b.simhash >> 24) AND a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 2"""),
    Query("d_incremental", (s, dir) => {
      // incremental ingestion dedup: the 'src18' slice plays the newly
      // arriving batch, everything else the already-ingested corpus whose
      // band table is the persistent index. 9/15 matching positions
      // (est. Jaccard ~0.6) admits a doc as a near-dup of its best match.
      val d = docs(s, dir)
      TextDedup.incrementalLshMatches(
        d.filter(col("source") =!= "src18"), d.filter(col("source") === "src18"),
        "doc_id", "text", 3, 15, 3, minEqual = 9)
    }, oracle =
      s"""WITH $shingleSql,
         sigs AS (SELECT doc_id, seed, min(md5(sh || ':' || CAST(seed AS VARCHAR))) AS sig
                  FROM sh, (SELECT unnest(generate_series(0, 14)) AS seed) s GROUP BY 1, 2),
         bands AS (SELECT doc_id, seed // 3 AS band,
                          md5(string_agg(sig, ',' ORDER BY seed)) AS bkey
                   FROM sigs GROUP BY 1, 2),
         batchb AS (SELECT b.* FROM bands b JOIN documents d USING(doc_id)
                    WHERE d.source = 'src18'),
         corpb  AS (SELECT b.* FROM bands b JOIN documents d USING(doc_id)
                    WHERE d.source <> 'src18'),
         cand AS (SELECT DISTINCT a.doc_id AS bid, c.doc_id AS cid
                  FROM batchb a JOIN corpb c ON a.band = c.band AND a.bkey = c.bkey),
         eq AS (SELECT bid, cid,
                       CAST(sum(CASE WHEN sa.sig = sc.sig THEN 1 ELSE 0 END) AS BIGINT) AS n_equal
                FROM cand JOIN sigs sa ON cand.bid = sa.doc_id
                          JOIN sigs sc ON cand.cid = sc.doc_id AND sa.seed = sc.seed
                GROUP BY 1, 2
                HAVING CAST(sum(CASE WHEN sa.sig = sc.sig THEN 1 ELSE 0 END) AS BIGINT) >= 9)
         SELECT bid AS doc_id,
                CAST(-(max(struct_pack(n := n_equal, nc := -cid)).nc) AS BIGINT) AS match_id,
                max(struct_pack(n := n_equal, nc := -cid)).n AS n_equal
         FROM eq GROUP BY 1"""),
    Query("t_fuzzy_curate", (s, dir) => {
      // FUZZY curation flagship — the near-dup generalization of t_curate's
      // exact chain, composing three operator families in one declarative
      // plan: SimHash candidate pairs → connected components → keep each
      // cluster's canonical minimum (plus every unclustered doc) → token
      // quality window. Near-dup relations are not transitive, so the
      // cluster-then-keep-min step is what makes the deletion set correct.
      val d = docs(s, dir)
      val prs = TextDedup.simhashPairs(d, "doc_id", "text", 2)
        .select("doc_a", "doc_b")
      val cc = Components.connectedComponents(prs, "doc_a", "doc_b")
        .select(col("node").as("doc_id"), col("comp"))
      val survivors = d.select("doc_id")
        .join(cc.select("doc_id"), Seq("doc_id"), "left_anti")
        .union(cc.filter(col("doc_id") === col("comp")).select("doc_id"))
      d.join(survivors, Seq("doc_id"), "left_semi")
        .withColumn("n_tokens", size(TextFunctions.tokens(col("text"))))
        .filter(col("n_tokens").between(20, 400))
        .select("doc_id", "lang", "n_tokens")
    }, oracle =
      // the same transitive-closure labels, then: survivors = unclustered
      // docs + per-cluster minimum, quality-windowed
      s"""WITH $clustersCteSql,
         survivors AS (
           SELECT doc_id FROM documents
           WHERE doc_id NOT IN (SELECT doc_id FROM labels)
           UNION ALL
           SELECT doc_id FROM labels WHERE doc_id = cluster_id),
         t AS (SELECT d.doc_id, d.lang,
                      CAST(len(string_split(d.text, ' ')) AS INTEGER) AS n_tokens
               FROM documents d JOIN survivors USING (doc_id))
         SELECT doc_id, lang, n_tokens FROM t
         WHERE n_tokens BETWEEN 20 AND 400"""),
    // pairs -> groups: connected components over the SimHash candidate
    // graph, then each doc labeled with its cluster's min doc_id (the
    // canonical survivor) and the cluster size. Near-dup relations are
    // not transitive, so group-then-keep-min is the correct delete set —
    // pairwise keep-min can delete both ends of a chain a-b-c. Declared
    // twice — once per CC algorithm, both against the SAME oracle: the
    // O(diameter) propagation and the O(log^2 n) star-rewriting must be
    // indistinguishable in output.
    Query("d_dbscan", (s, dir) => {
      // DBSCAN (Ester et al. KDD'96) over the SimHash Hamming metric —
      // density-based near-dup clustering with an explicit NOISE class,
      // which min-label components cannot express (components merge every
      // chain; DBSCAN's core/border split stops chains at sparse links —
      // the curation semantics when a near-dup "bridge" doc should not
      // glue two big clusters). ε-neighborhood = Hamming ≤ 2 on the
      // 32-bit SimHash, via a PIGEONHOLE-COMPLETE 3-band candidate join
      // (bits 21-31 / 10-20 / 0-9: two flipped bits touch ≤ 2 bands, so
      // every qualifying pair shares ≥ 1 exact band key — a bucketed
      // equality join, never corpus², and provably lossless unlike the
      // top-byte LSH block of d_simhash_pairs). core = ≥ 2 neighbors
      // (minPts 3 counting self); clusters = connected components over
      // CORE–CORE edges only (the Components operator); border docs
      // attach to the min cluster id among their core neighbors
      // (deterministic stand-in for DBSCAN's arbitrary first-reached
      // assignment); everything else is noise (cluster −1). All
      // decisions are integer tests — no FP anywhere.
      val d = docs(s, dir)
      val sh = TextDedup.simhash(d, "doc_id", "text").localCheckpoint()
      val banded = sh.select(col("doc_id"), col("simhash"),
        explode(array(
          struct(lit(0).as("bi"), expr("shiftright(simhash, 21)").as("bk")),
          struct(lit(1).as("bi"), expr("shiftright(simhash, 10) & 2047").as("bk")),
          struct(lit(2).as("bi"), expr("simhash & 1023").as("bk")))).as("b"))
        .select(col("doc_id"), col("simhash"), col("b.bi"), col("b.bk"))
      val pairs = banded.as("a").join(banded.as("b"),
          col("a.bi") === col("b.bi") && col("a.bk") === col("b.bk")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("bit_count(a.simhash ^ b.simhash)").cast(IntegerType)
            .as("hamming"))
        .filter(col("hamming") <= 2)
        .dropDuplicates("doc_a", "doc_b")
        .localCheckpoint()
      val nbrs = pairs.select(col("doc_a").as("doc_id"), col("doc_b").as("nb"))
        .union(pairs.select(col("doc_b").as("doc_id"), col("doc_a").as("nb")))
      val core = nbrs.groupBy("doc_id").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2).select("doc_id").localCheckpoint()
      val ccEdges = pairs
        .join(core.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"), "left_semi")
        .join(core.withColumnRenamed("doc_id", "doc_b"), Seq("doc_b"), "left_semi")
      // large/small-star, NOT min-label propagation: the dense-replica
      // core graph at the generated sf1 has label-chain diameter > 30
      // rounds (measured — propagation hit its round cap); star-rewriting
      // converges in O(log² n) regardless of chain shape, same labels
      val comp = Components.connectedComponentsStars(ccEdges, "doc_a", "doc_b")
        .withColumnRenamed("node", "doc_id")
      val coreLab = core.join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("comp"), col("doc_id")).as("cluster_id"))
        .localCheckpoint()
      val borderLab = nbrs
        .join(coreLab.withColumnRenamed("doc_id", "nb")
          .withColumnRenamed("cluster_id", "nb_cluster"), Seq("nb"))
        .join(core, Seq("doc_id"), "left_anti")
        .groupBy("doc_id").agg(min("nb_cluster").as("cluster_id"))
      val labeled = coreLab.withColumn("role", lit("core"))
        .union(borderLab.withColumn("role", lit("border")))
      d.select("doc_id").join(labeled, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("role"), lit("noise")).as("role"),
          coalesce(col("cluster_id"), lit(-1L)).as("cluster_id"))
    }, oracle =
      // same SimHash candidate graph as d_simhash_pairs, closed transitively:
      // the recursive CTE enumerates reachable ids per node (fine at oracle
      // scale; the engine side never materializes reachability — it
      // min-label-propagates in O(diameter) joins). d_clusters_stars runs
      // the large/small-star algorithm against the identical oracle.
      // identical simhash block, the 3-band pigeonhole candidate join,
      // integer core test, min-reach components over core-core edges
      // (the clustersCteSql recursion), min-cluster border attach
      """WITH RECURSIVE tok AS (SELECT doc_id, tok, count(*) AS cnt
                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
                      GROUP BY 1, 2),
         bits AS (SELECT doc_id, j,
                         sum(CASE WHEN substr(md5(tok), j + 1, 1) IN ('8','9','a','b','c','d','e','f')
                                  THEN cnt ELSE -cnt END) AS s
                  FROM tok, (SELECT unnest(generate_series(0, 31)) AS j) js GROUP BY 1, 2),
         sh AS MATERIALIZED (
           SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY 1),
         bnd AS (SELECT doc_id, simhash, 0 AS bi, simhash >> 21 AS bk FROM sh
                 UNION ALL
                 SELECT doc_id, simhash, 1, (simhash >> 10) & 2047 FROM sh
                 UNION ALL
                 SELECT doc_id, simhash, 2, simhash & 1023 FROM sh),
         prs AS MATERIALIZED (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bnd a JOIN bnd b
             ON a.bi = b.bi AND a.bk = b.bk AND a.doc_id < b.doc_id
           WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         nbrs AS (SELECT doc_a AS doc_id, doc_b AS nb FROM prs
                  UNION ALL SELECT doc_b, doc_a FROM prs),
         core AS MATERIALIZED (
           SELECT doc_id FROM (SELECT doc_id, count(*) AS deg FROM nbrs GROUP BY 1)
           WHERE deg >= 2),
         ce AS (SELECT doc_a, doc_b FROM prs
                WHERE doc_a IN (SELECT doc_id FROM core)
                  AND doc_b IN (SELECT doc_id FROM core)),
         eds AS (SELECT doc_a AS src, doc_b AS dst FROM ce
                 UNION SELECT doc_b, doc_a FROM ce),
         reach AS (SELECT src AS node, src AS comp FROM eds
                   UNION
                   SELECT r.node, e.dst AS comp FROM reach r JOIN eds e ON e.src = r.comp),
         labels AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY 1),
         corelab AS MATERIALIZED (
           SELECT c.doc_id, COALESCE(l.cluster_id, c.doc_id) AS cluster_id
           FROM core c LEFT JOIN labels l USING (doc_id)),
         borderlab AS (
           SELECT n.doc_id, min(cl.cluster_id) AS cluster_id
           FROM nbrs n JOIN corelab cl ON n.nb = cl.doc_id
           WHERE n.doc_id NOT IN (SELECT doc_id FROM core)
           GROUP BY 1)
         SELECT d.doc_id,
                CASE WHEN c.doc_id IS NOT NULL THEN 'core'
                     WHEN b.doc_id IS NOT NULL THEN 'border'
                     ELSE 'noise' END AS role,
                COALESCE(c.cluster_id, b.cluster_id, -1) AS cluster_id
         FROM documents d
         LEFT JOIN corelab c USING (doc_id)
         LEFT JOIN borderlab b USING (doc_id)"""),
    Query("d_dedup_clusters", (s, dir) =>
      clustersVia(s, dir, Components.connectedComponents(_, _, _)), oracle = clustersOracleSql),
    Query("d_clusters_stars", (s, dir) =>
      clustersVia(s, dir, Components.connectedComponentsStars(_, _, _)), oracle = clustersOracleSql),
    Query("t_classifier_score", (s, dir) => {
      // hashed-linear quality classifier — the fastText-style scorer
      // behind the published DCLM / FineWeb-Edu quality filters (public
      // recipe SHAPE; the weights here are a deterministic md5-derived
      // stand-in for learned ones): tokens hash into 64 buckets (first 6
      // hex digits of md5), each bucket carries a signed integer weight
      // in [-1000, 1000] derived from md5('w' || bucket). A real model
      // would broadcast its k-row weight table; a pure-function weight
      // fuses that "join" into the scan. Score = Σ_token w(bucket(token))
      // — pure integers, so the per-doc sum is order-independent; the
      // per-token mean is ONE IEEE division; keep is an integer sign
      // test. The whole classifier is a map stage inside scan codegen:
      // zero shuffles at any corpus size — exactly why linear classifiers
      // are THE production quality filter at 100 TB.
      val toks = TextFunctions.tokens(col("text"))
      docs(s, dir)
        .withColumn("n_tokens", size(toks))
        .withColumn("w_sum",
          TextFunctions.clsWeightSum(toks))
        .select(col("doc_id"), col("n_tokens"), col("w_sum"),
          round(col("w_sum").cast("double") / col("n_tokens"), 6)
            .as("score_per_token"),
          (col("w_sum") > 0).cast(IntegerType).as("keep"))
    }, oracle =
      // identical hash chain per token: bucket = first-6-hex md5 % 64,
      // weight = first-4-hex md5('w'||bucket) % 2001 − 1000; integer list
      // sum, one IEEE division, integer sign test
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                    FROM documents),
         c AS (SELECT doc_id,
                 CAST(len(toks) AS INTEGER) AS n_tokens,
                 CAST(list_aggregate(list_transform(toks,
                   t -> ('0x' || substr(md5('w' ||
                          CAST(('0x' || substr(md5(t), 1, 6))::BIGINT % 64
                               AS VARCHAR)), 1, 4))::BIGINT % 2001 - 1000),
                   'sum') AS BIGINT) AS w_sum
               FROM t)
         SELECT doc_id, n_tokens, w_sum,
                round(CAST(w_sum AS DOUBLE) / n_tokens, 6) AS score_per_token,
                CAST(CASE WHEN w_sum > 0 THEN 1 ELSE 0 END AS INTEGER) AS keep
         FROM c"""),
    Query("t_classifier_train", (s, dir) => {
      // TRAINED hashed-linear classifier — closes the last stand-in in
      // the curation stack (t_classifier_score's md5-derived weights are
      // a deterministic placeholder; these weights are LEARNED): 3
      // unrolled batch-gradient steps on squared loss, training a
      // 64-bucket hashed linear model on the corpus's language labels
      // (y = 1 iff lang = 'en' — the gold column; the marker-vote
      // PREDICTION is constant 'en' on this corpus, so supervising on it
      // would teach a constant) — the fastText-langid supervision shape:
      // labeled docs in, a one-pass scan-fused scorer out. Honest data
      // caveat, measured: the synthetic corpus draws every language from
      // ONE shared vocabulary, so the exact least-squares optimum on
      // these features is 311/500 correct vs a 307/500 majority class at
      // sf0.001 — no linear model can do meaningfully better on this
      // data. What this operator gates is therefore the TRAINING
      // MACHINERY (loss strictly decreasing, the full weight trajectory
      // bit-exact cross-engine, accuracy at the data's ceiling), which
      // transfers unchanged to a real labeled corpus. ALL arithmetic is fixed-point integer
      // (weights in units of 2^-20; updates w <- w - grad/(N*256) with
      // truncate-toward-zero integer division — Scala Long '/' and
      // DuckDB '//' agree, verified) so every round replays bit-exactly
      // cross-engine with no libm and no float accumulation ambiguity:
      // the v_kmeans_iter unrolled-round idiom applied to GD. Plan per
      // round: one 64-row broadcast weight join + doc-key aggregate
      // (pred), one label join (err), one bucket-key aggregate (grad —
      // map-side combined, 64-row model collect), one decimal sse agg;
      // the corpus never leaves the executors, only the d-row model and
      // 1-row loss do. Output: the 64-row weight trajectory (w_r1..3)
      // + per-round mse + final train accuracy as integer counts —
      // a wrong gradient, a drifted division, or a misordered round all
      // change the hash-gated trajectory. Gradient magnitude bound:
      // |g| <= N * maxlen * 2^21 — long-safe past 1e9 docs; sse uses a
      // DECIMAL(38,0) accumulator (e^2 sums overflow long at ~1e9 docs).
      import s.implicits._
      val d = docs(s, dir)
      val feats = d.select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), TextFunctions.clsBucket(col("tok")).as("bucket"))
        .groupBy("doc_id", "bucket").agg(count(lit(1)).as("x"))
        .localCheckpoint() // consumed 2x per round + acc pass
      val labels = d.select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .localCheckpoint()
      val n = d.count() // BOUNDED: 1 scalar — the corpus size
      // BOUNDED: <= 64 rows — the feature space, not data
      val buckets: Array[Long] = feats.select("bucket").distinct()
        .orderBy("bucket").collect().map(_.getLong(0))
      var w: Map[Long, Long] = buckets.map(_ -> 0L).toMap
      var wHist = Vector.empty[Map[Long, Long]]
      var mseHist = Vector.empty[Double]
      for (_ <- 1 to 3) {
        val wDf = w.toSeq.toDF("bucket", "w")
        val pred = feats.join(broadcast(wDf), "bucket")
          .groupBy("doc_id").agg(sum(col("x") * col("w")).as("p"))
        val err = labels.join(pred, Seq("doc_id"), "left")
          .select(col("doc_id"),
            (coalesce(col("p"), lit(0L)) - col("y") * lit(1L << 20)).as("e"))
          .localCheckpoint()
        // BOUNDED: <= 64 rows — the gradient IS the model update
        val grad: Map[Long, Long] = feats.join(err, "doc_id")
          .groupBy("bucket").agg(sum(col("x") * col("e")).as("g"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // BOUNDED: 1 row — the round's training loss
        val sse = err.agg(sum((col("e").cast(DecimalType(38, 0))
            * col("e").cast(DecimalType(38, 0)))).as("sse"))
          .first().getDecimal(0)
        w = w.map { case (b, wb) => b -> (wb - grad.getOrElse(b, 0L) / (n * 256L)) }
        wHist :+= w
        // fixed chain: exact-decimal -> correctly-rounded double, then
        // two IEEE divisions in fixed order (mirrored in the oracle)
        mseHist :+= sse.doubleValue / n.toDouble / 1099511627776.0
      }
      // final train accuracy with w_r3, as INTEGER counts (no rounding):
      // predicted en iff pred > 0.5 in fixed-point (2^19)
      val wDf3 = w.toSeq.toDF("bucket", "w")
      val predF = feats.join(broadcast(wDf3), "bucket")
        .groupBy("doc_id").agg(sum(col("x") * col("w")).as("p"))
      // BOUNDED: 1 row — the accuracy scalar pair
      val accRow = labels.join(predF, Seq("doc_id"), "left")
        .agg(sum(when((coalesce(col("p"), lit(0L)) > lit(1L << 19))
            === (col("y") === 1L), 1L).otherwise(0L)).as("n_correct"),
          count(lit(1)).as("n_docs"))
        .first()
      buckets.toSeq.map(b =>
          (b, wHist(0)(b), wHist(1)(b), wHist(2)(b)))
        .toDF("bucket", "w_r1", "w_r2", "w_r3")
        .withColumn("mse_r1", lit(mseHist(0)))
        .withColumn("mse_r2", lit(mseHist(1)))
        .withColumn("mse_r3", lit(mseHist(2)))
        .withColumn("n_correct", lit(accRow.getLong(0)))
        .withColumn("n_docs", lit(accRow.getLong(1)))
    }, oracle =
      // the identical 3 unrolled fixed-point GD rounds: 64-bucket hashed
      // counts, the langid-vote label, pred/err/grad per round, the
      // truncate-toward-zero update w - g // (n*1024), DECIMAL(38,0) sse
      // -> correctly-rounded double -> the same two IEEE divisions
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM documents),
         feats AS MATERIALIZED (
           SELECT doc_id,
                  ('0x' || substr(md5(tok), 1, 6))::BIGINT % 64 AS bucket,
                  count(*) AS x
           FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
           GROUP BY 1, 2),
         y AS MATERIALIZED (
           SELECT doc_id,
                  CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents),
         nn AS (SELECT count(*) AS n FROM documents),
         w0 AS MATERIALIZED (
           SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS w FROM feats),
         ${(1 to 3).map { r =>
           s"""p$r AS (SELECT f.doc_id, CAST(sum(f.x * w.w) AS BIGINT) AS p
                 FROM feats f JOIN w${r - 1} w USING (bucket) GROUP BY 1),
         e$r AS MATERIALIZED (
           SELECT y.doc_id, coalesce(p.p, 0) - y.y * 1048576 AS e
           FROM y LEFT JOIN p$r p USING (doc_id)),
         g$r AS (SELECT f.bucket, CAST(sum(f.x * e.e) AS BIGINT) AS g
                 FROM feats f JOIN e$r e USING (doc_id) GROUP BY 1),
         w$r AS MATERIALIZED (
           SELECT w.bucket,
                  CAST(w.w - coalesce(g.g, 0) // ((SELECT n FROM nn) * 256) AS BIGINT) AS w
           FROM w${r - 1} w LEFT JOIN g$r g USING (bucket)),
         m$r AS (SELECT (CAST(sum(CAST(e AS DECIMAL(38,0))
                               * CAST(e AS DECIMAL(38,0))) AS DOUBLE)
                         / (SELECT n FROM nn)) / 1099511627776.0 AS mse
                 FROM e$r)"""
         }.mkString(",\n         ")},
         pf AS (SELECT f.doc_id, CAST(sum(f.x * w.w) AS BIGINT) AS p
                FROM feats f JOIN w3 w USING (bucket) GROUP BY 1),
         acc AS (SELECT CAST(count(*) FILTER
                          ((coalesce(p.p, 0) > 524288) = (y.y = 1))
                          AS BIGINT) AS n_correct,
                        count(*) AS n_docs
                 FROM y LEFT JOIN pf p USING (doc_id))
         SELECT w1.bucket, w1.w AS w_r1, w2.w AS w_r2, w3.w AS w_r3,
                m1.mse AS mse_r1, m2.mse AS mse_r2, m3.mse AS mse_r3,
                acc.n_correct, acc.n_docs
         FROM w1 JOIN w2 USING (bucket) JOIN w3 USING (bucket),
              m1, m2, m3, acc"""),
    Query("t_bpe_train", (s, dir) => {
      // BPE tokenizer TRAINING as distributed dataflow (Sennrich et al.,
      // ACL 2016 — the published merge-loop, here over whitespace symbols;
      // a real trainer iterates the same plan over its evolving subword
      // sequences): 3 merge rounds, each = (1) global adjacent-pair
      // counts (map-side combined), (2) the merge decision — top-1 by
      // (count DESC, pair ASC), a 1-row driver scalar of the Lloyd
      // class, (3) the corpus rewrite: greedy LEFT-TO-RIGHT
      // non-overlapping application of the merge, spelled relationally —
      // match positions → consecutive-run islands (gaps-and-islands) →
      // keep every EVEN offset within its island (exactly the greedy
      // scan's picks, incl. the a==b chain case) → drop each absorbed
      // right symbol, reindex. Every window partitions by doc_id, so the
      // corpus shuffles ONCE per round on the doc key and Spark reuses
      // that exchange across the round's windows; rewrite joins are
      // match-sized. The final per-doc sequence fingerprint + the merge
      // table (constant columns) hash-gate the whole loop: one wrong
      // merge pick or one mis-applied overlap changes digests.
      import org.apache.spark.sql.expressions.Window
      val wPos = Window.partitionBy("doc_id").orderBy("pos")
      var seqs = docs(s, dir).select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))))
        .toDF("doc_id", "pos", "sym")
        .withColumn("pos", col("pos").cast(LongType))
        .localCheckpoint()
      var merges = Vector.empty[String]
      for (_ <- 1 to 3) {
        val withNext = seqs.withColumn("nxt", lead(col("sym"), 1).over(wPos))
        val top = withNext.filter(col("nxt").isNotNull)
          .groupBy("sym", "nxt").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("sym").asc, col("nxt").asc)
          .take(1).head
        val (a, b) = (top.getString(0), top.getString(1))
        merges :+= s"$a+$b"
        // the rewrite is the shared greedy-apply (bpeApplyMerge) — also
        // the apply-only path of t_bpe_encode
        seqs = bpeApplyMerge(seqs, a, b).localCheckpoint()
      }
      seqs.groupBy("doc_id")
        .agg(count(lit(1)).as("n_syms"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("sym")))),
            x => x.getField("sym")))).as("doc_fp"))
        .select(col("doc_id"), col("n_syms"), col("doc_fp"),
          lit(merges(0)).as("m1"), lit(merges(1)).as("m2"),
          lit(merges(2)).as("m3"))
    }, oracle =
      // the identical 3 unrolled merge rounds: lead-window pair counts,
      // the (count DESC, pair ASC) top-1 pick, island-parity greedy
      // application, absorbed-symbol drop + reindex; final per-doc
      // ordered string_agg md5 + the three merge literals
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM documents),
         x0 AS (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks))) AS i
                FROM t),
         s0 AS MATERIALIZED (
           SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS sym
           FROM x0),
         ${(1 to 3).map { r =>
           s"""w$r AS MATERIALIZED (
           SELECT doc_id, pos, sym,
                  lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           FROM s${r - 1}),
         mr$r AS MATERIALIZED (
           SELECT sym AS a, nxt AS b FROM w$r WHERE nxt IS NOT NULL
           GROUP BY sym, nxt
           ORDER BY count(*) DESC, sym ASC, nxt ASC LIMIT 1),
         mt$r AS (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY pos) AS rn
                  FROM w$r, mr$r WHERE sym = mr$r.a AND nxt = mr$r.b),
         ap$r AS MATERIALIZED (
           SELECT doc_id, pos
           FROM (SELECT doc_id, pos, pos - rn AS island FROM mt$r)
           QUALIFY (pos - min(pos) OVER (PARTITION BY doc_id, island))
                   % 2 = 0),
         s$r AS MATERIALIZED (
           SELECT s.doc_id,
                  CAST(row_number() OVER (PARTITION BY s.doc_id
                    ORDER BY s.pos) - 1 AS BIGINT) AS pos,
                  CASE WHEN ia.pos IS NOT NULL
                       THEN s.sym || '+' || mr$r.b ELSE s.sym END AS sym
           FROM s${r - 1} s
           LEFT JOIN ap$r ia
             ON s.doc_id = ia.doc_id AND s.pos = ia.pos
           LEFT JOIN (SELECT doc_id, pos + 1 AS pos FROM ap$r) ib
             ON s.doc_id = ib.doc_id AND s.pos = ib.pos
           CROSS JOIN mr$r
           WHERE ib.pos IS NULL)"""
         }.mkString(",\n         ")}
         SELECT s.doc_id, count(*) AS n_syms,
                md5(string_agg(s.sym, ' ' ORDER BY s.pos)) AS doc_fp,
                (SELECT a || '+' || b FROM mr1) AS m1,
                (SELECT a || '+' || b FROM mr2) AS m2,
                (SELECT a || '+' || b FROM mr3) AS m3
         FROM s3 s GROUP BY s.doc_id"""),
    Query("t_bpe_encode", (s, dir) => {
      // BPE ENCODING against a TRAINED merge table — the apply half of
      // Sennrich et al. ACL'16, and the missing link between
      // t_bpe_train's tokenizer training and t_pack/t_window_chunk's
      // consumption of token-id sequences. The merge table is trained on
      // a FIXED 20% split (doc_id % 5 = 0, the t_sample_split idiom —
      // at 100 TB the tokenizer trains on a fixed-size sample, never the
      // corpus), then applied IN TRAINING ORDER to the FULL corpus with
      // the identical greedy left-to-right non-overlapping rewrite
      // (bpeApplyMerge — shared code, so train/apply cannot drift).
      // Token ids come from the trained vocab: the distinct symbols of
      // the ENCODED train split, dense-ranked by symbol — tokenizer-sized,
      // so the rank window and the id join are both bounded; corpus
      // symbols outside the trained vocab are UNK (-1), exactly a frozen
      // production tokenizer's OOV behavior. Plan: 3 split-sized training
      // rounds + 3 corpus rewrite rounds (ONE doc-key exchange each,
      // match-sized joins), then one broadcast vocab join. The per-doc
      // md5 of the space-joined id sequence hash-gates merge order,
      // overlap handling, vocab rank, and UNK mapping at once.
      import org.apache.spark.sql.expressions.Window
      val wPos = Window.partitionBy("doc_id").orderBy("pos")
      val base = docs(s, dir).select(col("doc_id"),
          posexplode(TextFunctions.tokens(col("text"))))
        .toDF("doc_id", "pos", "sym")
        .withColumn("pos", col("pos").cast(LongType))
        .localCheckpoint()
      var train = base.filter(col("doc_id") % 5 === 0).localCheckpoint()
      var merges = Vector.empty[(String, String)]
      for (_ <- 1 to 3) {
        // BOUNDED: take(1) is the 1-row merge decision (the Lloyd-class
        // scalar), never data
        val top = train.withColumn("nxt", lead(col("sym"), 1).over(wPos))
          .filter(col("nxt").isNotNull)
          .groupBy("sym", "nxt").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("sym").asc, col("nxt").asc)
          .take(1).head
        val (a, b) = (top.getString(0), top.getString(1))
        merges :+= ((a, b))
        train = bpeApplyMerge(train, a, b).localCheckpoint()
      }
      // trained vocab: distinct symbols of the encoded split, dense ids in
      // symbol order — tokenizer-sized, the single-partition rank window
      // is bounded by vocab cardinality, not the corpus
      val vocab = train.select(col("sym")).distinct()
        .withColumn("tok_id",
          (row_number().over(Window.orderBy(col("sym"))) - 1).cast(LongType))
      var enc = base
      for ((a, b) <- merges) enc = bpeApplyMerge(enc, a, b).localCheckpoint()
      val mergeTable = merges.map { case (a, b) => s"$a+$b" }.mkString(",")
      enc.join(broadcast(vocab), Seq("sym"), "left")
        .withColumn("tok_id", coalesce(col("tok_id"), lit(-1L)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("tok_id") === -1L, 1L).otherwise(0L)).as("n_unk"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("pos"), col("tok_id")))),
            x => x.getField("tok_id").cast("string")))).as("ids_fp"))
        .select(col("doc_id"), col("n_tokens"), col("n_unk"), col("ids_fp"),
          lit(mergeTable).as("merge_table"))
    }, oracle =
      // the t_bpe_train machinery twice over: 3 training rounds on the
      // doc_id % 5 = 0 split (producing mr1..mr3 + the encoded split s3,
      // whose distinct symbols rank into the trained vocab), then 3
      // apply-only rounds over the FULL corpus (e0..e3 — same island-
      // parity greedy rewrite, matches taken against the TRAINED mr_r
      // instead of a fresh count), then the vocab left join with UNK=-1
      // and the per-doc ordered id-sequence md5
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                     FROM documents),
         x0 AS (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks))) AS i
                FROM t),
         b0 AS MATERIALIZED (
           SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS sym
           FROM x0),
         s0 AS MATERIALIZED (SELECT * FROM b0 WHERE doc_id % 5 = 0),
         ${(1 to 3).map { r =>
           s"""w$r AS MATERIALIZED (
           SELECT doc_id, pos, sym,
                  lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           FROM s${r - 1}),
         mr$r AS MATERIALIZED (
           SELECT sym AS a, nxt AS b FROM w$r WHERE nxt IS NOT NULL
           GROUP BY sym, nxt
           ORDER BY count(*) DESC, sym ASC, nxt ASC LIMIT 1),
         mt$r AS (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY doc_id
                           ORDER BY pos) AS rn
                  FROM w$r, mr$r WHERE sym = mr$r.a AND nxt = mr$r.b),
         ap$r AS MATERIALIZED (
           SELECT doc_id, pos
           FROM (SELECT doc_id, pos, pos - rn AS island FROM mt$r)
           QUALIFY (pos - min(pos) OVER (PARTITION BY doc_id, island))
                   % 2 = 0),
         s$r AS MATERIALIZED (
           SELECT s.doc_id,
                  CAST(row_number() OVER (PARTITION BY s.doc_id
                    ORDER BY s.pos) - 1 AS BIGINT) AS pos,
                  CASE WHEN ia.pos IS NOT NULL
                       THEN s.sym || '+' || mr$r.b ELSE s.sym END AS sym
           FROM s${r - 1} s
           LEFT JOIN ap$r ia
             ON s.doc_id = ia.doc_id AND s.pos = ia.pos
           LEFT JOIN (SELECT doc_id, pos + 1 AS pos FROM ap$r) ib
             ON s.doc_id = ib.doc_id AND s.pos = ib.pos
           CROSS JOIN mr$r
           WHERE ib.pos IS NULL)"""
         }.mkString(",\n         ")},
         vocab AS MATERIALIZED (
           SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS BIGINT)
                    AS tok_id
           FROM (SELECT DISTINCT sym FROM s3)),
         e0 AS MATERIALIZED (SELECT * FROM b0),
         ${(1 to 3).map { r =>
           s"""ew$r AS MATERIALIZED (
           SELECT doc_id, pos, sym,
                  lead(sym) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
           FROM e${r - 1}),
         emt$r AS (SELECT doc_id, pos,
                          row_number() OVER (PARTITION BY doc_id
                            ORDER BY pos) AS rn
                   FROM ew$r, mr$r WHERE sym = mr$r.a AND nxt = mr$r.b),
         eap$r AS MATERIALIZED (
           SELECT doc_id, pos
           FROM (SELECT doc_id, pos, pos - rn AS island FROM emt$r)
           QUALIFY (pos - min(pos) OVER (PARTITION BY doc_id, island))
                   % 2 = 0),
         e$r AS MATERIALIZED (
           SELECT s.doc_id,
                  CAST(row_number() OVER (PARTITION BY s.doc_id
                    ORDER BY s.pos) - 1 AS BIGINT) AS pos,
                  CASE WHEN ia.pos IS NOT NULL
                       THEN s.sym || '+' || mr$r.b ELSE s.sym END AS sym
           FROM e${r - 1} s
           LEFT JOIN eap$r ia
             ON s.doc_id = ia.doc_id AND s.pos = ia.pos
           LEFT JOIN (SELECT doc_id, pos + 1 AS pos FROM eap$r) ib
             ON s.doc_id = ib.doc_id AND s.pos = ib.pos
           CROSS JOIN mr$r
           WHERE ib.pos IS NULL)"""
         }.mkString(",\n         ")}
         SELECT e.doc_id, count(*) AS n_tokens,
                CAST(count(*) FILTER (v.tok_id IS NULL) AS BIGINT) AS n_unk,
                md5(string_agg(CAST(coalesce(v.tok_id, -1) AS VARCHAR), ' '
                      ORDER BY e.pos)) AS ids_fp,
                (SELECT a || '+' || b FROM mr1) || ',' ||
                (SELECT a || '+' || b FROM mr2) || ',' ||
                (SELECT a || '+' || b FROM mr3) AS merge_table
         FROM e3 e LEFT JOIN vocab v USING (sym)
         GROUP BY e.doc_id"""),
    Query("t_ccnet_bucket", (s, dir) => {
      // CCNet-style perplexity bucketing (Wenzek et al., LREC 2020 —
      // public recipe): score every doc under the corpus LM, then split
      // EACH language's docs into head / middle / tail terciles by
      // fluency — the standard "keep head+middle, drop tail" curation
      // gate. Fluency is the t_lm_quality chain (add-one bigram mean —
      // decimal-accumulated, libm-free); the language is the marker-vote
      // prediction (a model output, as in CCNet, not the gold label). The
      // tercile is ntile(3) over (fluency DESC, doc_id) per language — a
      // per-language sort, which IS CCNet's shape; at 100 TB the same
      // bucket semantics comes from sampled quantile cuts
      // (approx_percentile) instead of a full sort, with this exact
      // formulation as the gate. Docs with < 2 tokens have no bigrams and
      // are out of scope (inner join), as in t_lm_quality.
      import org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val grams = d.select(col("doc_id"), explode(TextFunctions.ngrams(
        TextFunctions.tokens(col("text")), 2)).as("pair"))
      val bi = grams.groupBy("pair").agg(count(lit(1)).as("c12"))
        .withColumn("w1", substring_index(col("pair"), " ", 1))
      val ctx = bi.groupBy("w1").agg(sum("c12").as("c1"))
      val vocab = d.select(explode(TextFunctions.tokens(col("text"))).as("tok"))
        .agg(countDistinct(col("tok")).as("v"))
      val lm = bi.join(ctx, "w1").crossJoin(broadcast(vocab))
        .select(col("pair"),
          ((col("c12") + lit(1.0)) / (col("c1") + col("v"))).as("p"))
      val fluency = grams.join(lm, "pair")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("p").cast(DecimalType(28, 16))).cast("double") /
            count(lit(1))).as("mp_raw"))
      val voted = d.select(col("doc_id"), predLangOf(col("text")).as("pred_lang"))
      fluency.join(voted, "doc_id")
        .withColumn("tercile", ntile(3).over(Window.partitionBy("pred_lang")
          .orderBy(col("mp_raw").desc, col("doc_id").asc)))
        .select(col("doc_id"), col("pred_lang"), col("n_bigrams"),
          round(col("mp_raw"), 9).as("mean_p"),
          when(col("tercile") === 1, "head")
            .when(col("tercile") === 2, "middle")
            .otherwise("tail").as("ppl_bucket"))
    }, oracle =
      // the t_lm_quality LM chain (UNROUNDED mean_p — bit-identical decimal
      // sums + IEEE divisions, so the ntile sort key cannot diverge), the
      // t_langid CASE vote, and the same ntile(3) over
      // (mean_p DESC, doc_id ASC) per predicted language
      """WITH grams AS (
           SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
           FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
           WHERE len(toks) >= 2),
         bi AS (SELECT pair, count(*) AS c12 FROM grams GROUP BY 1),
         sp AS (SELECT pair, c12, string_split(pair, ' ')[1] AS w1 FROM bi),
         ctx AS (SELECT w1, sum(c12) AS c1 FROM sp GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS v
               FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
         lm AS (SELECT sp.pair, (sp.c12 + 1.0) / (ctx.c1 + v.v) AS p
                FROM sp JOIN ctx USING (w1), v),
         fl AS (SELECT g.doc_id, count(*) AS n_bigrams,
                       CAST(sum(CAST(p AS DECIMAL(28,16))) AS DOUBLE) /
                         count(*) AS mp_raw
                FROM grams g JOIN lm USING (pair)
                GROUP BY 1),
         lv AS (SELECT doc_id,
                 len(list_filter(toks, x -> x IN ('the','a','of','and','is'))) AS n_en,
                 len(list_filter(toks, x -> x IN ('el','la','los','es','y'))) AS n_es,
                 len(list_filter(toks, x -> x IN ('le','les','des','et','est'))) AS n_fr,
                 len(list_filter(toks, x -> x IN ('der','die','das','und','ist'))) AS n_de,
                 len(list_filter(toks, x -> x IN ('de0','shi4','le0','zai4','wo3'))) AS n_zh
               FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
         voted AS (SELECT doc_id,
                CASE WHEN n_zh > greatest(n_en, n_es, n_fr, n_de) THEN 'zh'
                     WHEN n_de > greatest(n_en, n_es, n_fr) THEN 'de'
                     WHEN n_fr > greatest(n_en, n_es) THEN 'fr'
                     WHEN n_es > n_en THEN 'es'
                     ELSE 'en' END AS pred_lang
                FROM lv),
         b AS (SELECT f.doc_id, v2.pred_lang, f.n_bigrams, f.mp_raw,
                      ntile(3) OVER (PARTITION BY v2.pred_lang
                        ORDER BY f.mp_raw DESC, f.doc_id ASC) AS tercile
               FROM fl f JOIN voted v2 USING (doc_id))
         SELECT doc_id, pred_lang, n_bigrams, round(mp_raw, 9) AS mean_p,
                CASE WHEN tercile = 1 THEN 'head'
                     WHEN tercile = 2 THEN 'middle'
                     ELSE 'tail' END AS ppl_bucket
         FROM b"""),
    Query("t_hash_embed", (s, dir) => {
      // feature-hashed document vectors (the hashing trick — Weinberger
      // et al., ICML'09: bucket = h(token) mod D, value accumulates a
      // ±1 sign from an INDEPENDENT hash, so collisions cancel in
      // expectation and the "embedding" needs no trained encoder). D=64
      // via the shared md5-bucket idiom (t_classifier_score's feature
      // map); sign = parity of the first hex digit of md5('s'||token).
      // This is the bridge between the text corpus and the vector
      // surface: cheap, deterministic per-doc vectors for clustering and
      // near-dup when no model is available. The WHOLE sparse vector
      // gates through one canonical fingerprint (sorted "b:v" pairs, the
      // t_render_sft lineage idiom — one flipped sign or shifted bucket
      // fails the hash) plus its L0/L1/L2 moments and argmax bucket
      // (ties → smallest bucket). Plan: one scan-fused explode, one
      // (doc,bucket) hash aggregate, one doc-keyed aggregate — both
      // map-side combinable, nothing corpus-global; at 100 TB the op is
      // embarrassingly parallel and the output is 6 fixed-width columns
      // per doc, never the 64-wide dense frame.
      val bv = docs(s, dir)
        .select(col("doc_id"),
          explode(TextFunctions.tokens(col("text"))).as("tok"))
        .select(col("doc_id"),
          (conv(substring(md5(col("tok")), 1, 6), 16, 10)
            .cast(LongType) % 64).as("b"),
          when(conv(substring(md5(concat(lit("s"), col("tok"))), 1, 1),
            16, 10).cast(LongType) % 2 === 0, lit(1L))
            .otherwise(lit(-1L)).as("sgn"))
        .groupBy("doc_id", "b").agg(sum("sgn").as("v"))
        .filter(col("v") =!= 0)
      bv.groupBy("doc_id").agg(
          count(lit(1)).cast("int").as("nnz"),
          sum(abs(col("v"))).as("l1"),
          sum(col("v") * col("v")).as("l2sq"),
          max(struct(col("v"), (-col("b")).as("nb"))).as("mx"),
          md5(concat_ws(",", transform(
            array_sort(collect_list(struct(col("b"), col("v")))),
            x => concat(x.getField("b").cast("string"), lit(":"),
              x.getField("v").cast("string"))))).as("vec_md5"))
        .select(col("doc_id"), col("nnz"), col("l1"), col("l2sq"),
          (-col("mx.nb")).as("top_bucket"), col("mx.v").as("top_v"),
          col("vec_md5"))
    }, oracle =
      // identical hash chain: bucket = first-6-hex md5 % 64, sign =
      // first-hex-digit parity of md5('s'||tok); per-(doc,bucket) signed
      // sums, zero-cancelled entries dropped, then the moments + argmax
      // (max struct over (v, -b): ties → smallest bucket) and the
      // canonical sorted "b:v" fingerprint
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                       FROM documents),
         bv0 AS (SELECT doc_id,
                   ('0x' || substr(md5(tok), 1, 6))::BIGINT % 64 AS b,
                   CASE WHEN ('0x' || substr(md5('s' || tok), 1, 1))::BIGINT % 2 = 0
                        THEN 1 ELSE -1 END AS sgn
                 FROM toks),
         bv AS (SELECT doc_id, b, CAST(sum(sgn) AS BIGINT) AS v
                FROM bv0 GROUP BY 1, 2 HAVING sum(sgn) <> 0),
         agg AS (SELECT doc_id,
                   CAST(count(*) AS INTEGER) AS nnz,
                   CAST(sum(abs(v)) AS BIGINT) AS l1,
                   CAST(sum(v * v) AS BIGINT) AS l2sq,
                   max(struct_pack(v := v, nb := -b)) AS mx,
                   md5(string_agg(CAST(b AS VARCHAR) || ':' || CAST(v AS VARCHAR),
                       ',' ORDER BY b)) AS vec_md5
                 FROM bv GROUP BY 1)
         SELECT doc_id, nnz, l1, l2sq,
                -((mx).nb) AS top_bucket, (mx).v AS top_v, vec_md5
         FROM agg""")
  )

  /** Shared WITH-chain: SimHash candidate pairs closed transitively into
    * per-doc cluster labels (`labels(doc_id, cluster_id)`). Used by the
    * clusters oracles AND the fuzzy-curation oracle. */
  private lazy val clustersCteSql =
      """RECURSIVE tok AS (SELECT doc_id, tok, count(*) AS cnt
                      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
                      GROUP BY 1, 2),
         bits AS (SELECT doc_id, j,
                         sum(CASE WHEN substr(md5(tok), j + 1, 1) IN ('8','9','a','b','c','d','e','f')
                                  THEN cnt ELSE -cnt END) AS s
                  FROM tok, (SELECT unnest(generate_series(0, 31)) AS j) js GROUP BY 1, 2),
         sh AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
                FROM bits GROUP BY 1),
         prs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM sh a JOIN sh b ON (a.simhash >> 24) = (b.simhash >> 24) AND a.doc_id < b.doc_id
                 WHERE bit_count(xor(a.simhash, b.simhash)) <= 2),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
                   UNION SELECT doc_b AS src, doc_a AS dst FROM prs),
         reach AS (SELECT src AS node, src AS comp FROM edges
                   UNION
                   SELECT r.node, e.dst AS comp FROM reach r JOIN edges e ON e.src = r.comp),
         labels AS (SELECT node AS doc_id, min(comp) AS cluster_id FROM reach GROUP BY 1)"""

  // lazy: referenced by `queries` declared above it
  private lazy val clustersOracleSql =
    s"""WITH $clustersCteSql
         SELECT doc_id, cluster_id, count(*) OVER (PARTITION BY cluster_id) AS cluster_size
         FROM labels"""
}
