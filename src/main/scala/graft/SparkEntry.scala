package graft

import graft.corpus.{CorpusConfig, CorpusGen, CorpusTables}
import graft.functions.UrlFunctions
import graft.operators.{CrawlConfig, Dedup, FetchMode, FrontierStep, HostGraph, Multimodal, Politeness, QualityGate, SeenPrefilter, Similarity}
import graft.oracle.OracleSqlGen
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Driver contract: the operator catalogue (SURVEY.md §2 + training-data
 * pipeline ops), one query per operator, with a DuckDB-oracle SQL where the
 * operator is ANSI-SQL-expressible. Column names are aligned between the
 * Spark result and the oracle SQL (the driver hash-compares by sorted
 * column name).
 */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Tiny fixed corpus for the crawl-operator queries (independent of sf). */
  private val demoCrawlCfg =
    CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 15, maxPages = 30))

  /** Flagship: one full BSP frontier generation on the synthetic corpus —
   * politeness cap, fetch join, span explode, canonicalize, robots,
   * bloom-prefiltered anti-join — returning gen-1 discovered URLs. */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = demoCrawlCfg
    val docs = CorpusTables.documents(spark, cfg.corpus)
    val frontier = FrontierStep.seedFrontier(spark, CorpusGen.seeds(cfg.corpus, 3))
    val seen = frontier.select("url")
    val res = FrontierStep.step(spark, frontier, seen, SeenPrefilter.Off, docs, cfg, gen = 0)
    res.discovered.orderBy("url")
  }

  /** Span-shaped media docs derived from the testdata documents table (two
   * media refs per doc) — q25/q26 input; OracleSqlGen.mediaRefsCte mirrors it. */
  private def mediaDocs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").cast("string").as("doc_id"),
      array(
        struct(lit("media").as("kind"), lit("").as("text"),
          concat(lit("img://"), col("source"), lit("/m"),
            (col("doc_id") % 7).cast("string")).as("media_ref"),
          lit(0).as("offset")),
        struct(lit("media").as("kind"), lit("").as("text"),
          concat(lit("aud://"), col("source"), lit("/m"),
            (col("doc_id") % 3).cast("string")).as("media_ref"),
          lit(1).as("offset"))).as("spans"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- A1: aggregation accounting (groupBy/agg) ---------------------------
    "q01_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    // --- O1: politeness priority-queue = per-key ranked window top-k --------
    "q02_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("user_id", "event_id", "value", "rn")
    }),
    // --- J1: cull_known anti-join --------------------------------------------
    "q03_anti_join" -> ((s, dir) => {
      t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"), "left_anti")
        .select("o_orderkey", "o_totalprice")
    }),
    // --- semi-join (EXISTS — seen-membership dual of J1) ---------------------
    "q04_semi_join" -> ((s, dir) => {
      t(s, dir, "customer").join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    }),
    // --- P7: distinct ---------------------------------------------------------
    "q05_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()),
    // --- F2/F3: substring-contains host filters -------------------------------
    "q06_filter_whitelist" -> ((s, dir) => {
      val whitelist = Seq("src1", "src3") // substring-contains semantics (filter.rs:74-88)
      t(s, dir, "documents")
        .filter(whitelist.map(w => col("source").contains(w)).reduce(_ || _))
        .select("doc_id", "source")
    }),
    "q07_filter_blacklist" -> ((s, dir) => {
      val blacklist = Seq("src1", "src3")
      t(s, dir, "documents")
        .filter(!blacklist.map(b => col("source").contains(b)).reduce(_ || _))
        .select("doc_id", "source")
    }),
    // --- P1: explode (link/token fan-out: one row in → N out) -----------------
    "q08_explode_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(20)
    }),
    // --- P4-P6: URL canonicalization ------------------------------------------
    "q09_canonicalize" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("messy", concat(lit("HTTP://"), upper(col("source")),
          lit(".EXAMPLE:80/p"), (col("doc_id") % 7).cast("string"),
          lit("?b=2&a=1#frag")))
        .select(UrlFunctions.canonicalizeUrl(col("messy")).as("url"))
        .groupBy("url").agg(count(lit(1)).as("n"))
    }),
    // --- P2: relative URL resolution -------------------------------------------
    "q10_url_resolve" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("base", concat(lit("http://"), col("source"),
          lit(".example/dir/page.html")))
        .withColumn("href", concat(lit("../x"), (col("doc_id") % 5).cast("string"),
          lit(".html")))
        .select(col("doc_id"),
          UrlFunctions.resolveHref(col("base"), col("href")).as("resolved"))
    }),
    // --- dedup: exact (hash-groupBy) -------------------------------------------
    "q11_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents")).orderBy("doc_id")),
    // --- text analysis: token counting ------------------------------------------
    "q12_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          // native byte-scan (≡ size(split(text, " ")), spec-pinned)
          graft.functions.NativeExpressions.wsTokenCount(col("text")).as("ws_tokens"),
          length(col("text")).as("text_chars"))
    }),
    // --- text analysis: stopword-ratio quality signal ----------------------------
    "q13_stopword_ratio" -> ((s, dir) => {
      val stops = Seq("the", "a", "of", "and", "to", "in", "is")
      val toks = split(col("text"), " ")
      val stopArr = array(stops.map(lit): _*)
      t(s, dir, "documents").select(col("doc_id"),
        round(
          size(filter(toks, x => array_contains(stopArr, x))).cast("double") /
            size(toks).cast("double"), 6).as("stop_ratio"))
    }),
    // --- union + distinct (S2/J2 set semantics) -----------------------------------
    "q14_union_distinct" -> ((s, dir) => {
      t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct()
    }),
    // --- multi-join + broadcast dim + agg (frontier⋈corpus shape at SQL level) ----
    "q15_join_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy("n_name")
    }),
    // --- A1 deltas: lag window ------------------------------------------------------
    "q16_window_lag" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          (col("value") - lag(col("value"), 1).over(w)).as("delta"))
    }),
    // --- similarity: exact brute-force cosine top-1 (raw double math so the
    // DuckDB DOUBLE[] oracle is bit-identical; the unit-norm fast path is
    // exercised by q22/q23 and SimilaritySpec) --------------------------------
    "q17_cosine_top1" -> ((s, dir) => {
      val cos = udf((a: Seq[Float], b: Seq[Float]) =>
        graft.functions.TextFunctions.cosine(a.toArray, b.toArray))
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 50)
        .select(col("vec_id"), col("embedding").as("q_emb"))
      val c = e.select(col("vec_id").as("neighbour_id"), col("embedding").as("c_emb"))
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cosine").desc, col("neighbour_id").asc)
      q.join(c, col("vec_id") =!= col("neighbour_id"))
        .withColumn("cosine", cos(col("q_emb"), col("c_emb")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .select(col("vec_id"), col("neighbour_id"), round(col("cosine"), 4).as("cosine_r"))
    }),
    // --- dedup: minhash-LSH near-dup pairs (no SQL oracle: sketch-based) ---------------
    "q18_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(t(s, dir, "documents"), threshold = 0.4, shingleN = 2)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard_r"))
        .orderBy("doc_a", "doc_b")),
    // --- dedup: simhash fingerprints -----------------------------------------------------
    "q19_simhash" -> ((s, dir) => {
      val sim = udf((t: String) => graft.functions.TextFunctions.simhash(t))
      t(s, dir, "documents").select(col("doc_id"), sim(col("text")).as("simhash"))
    }),
    // --- text analysis: language-ID heuristic ---------------------------------------------
    "q20_lang_id" -> ((s, dir) => {
      val lid = udf((t: String) => graft.functions.TextFunctions.langId(t)._1)
      t(s, dir, "documents").select(col("doc_id"), lid(col("text")).as("pred_lang"))
    }),
    // --- text analysis: quality score -------------------------------------------------------
    "q21_quality_score" -> ((s, dir) => {
      val q = udf((t: String) => graft.functions.TextFunctions.qualityScore(t))
      t(s, dir, "documents").select(col("doc_id"), round(q(col("text")), 6).as("quality"))
    }),
    // --- similarity: LSH-bucketed ANN (scale path; recall vs q17 tested in specs) ------------
    "q22_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(t(s, dir, "embeddings"), k = 5, bits = 8, tables = 4)
        .groupBy("vec_id").agg(count(lit(1)).as("n_neighbours"))),
    // --- similarity: IVF ANN (scale path) ------------------------------------------------------
    "q23_ann_ivf" -> ((s, dir) =>
      // refineSample = 40 < rows/list at both gate SFs, so the BOUNDED Lloyd
      // refine path (not the take-everything degenerate case) is what the
      // DuckDB oracle checks bit-exactly
      Similarity.ivfTopK(t(s, dir, "embeddings"), k = 5, nLists = 8, nProbe = 3,
          refineSample = 40)
        .groupBy("vec_id").agg(count(lit(1)).as("n_neighbours"))),
    // --- crawl: one BSP generation end-to-end, testdata-derived corpus so the
    // DuckDB oracle can recompute it (the Zipf demo corpus stays golden-tested
    // via GoldenCrawlSpec + `entry`). Exercises the REAL FrontierStep.step:
    // politeness window, corpus join, span explode, fused
    // resolve+canonicalize+host UDF, blacklist, bloom-prefiltered anti-join. --
    "q24_crawl_gen1" -> ((s, dir) => {
      import s.implicits._
      val m = col("doc_id")
      def pageUrl(host: Column, page: Column): Column =
        concat(lit("http://h"), host.cast("string"), lit(".example/p"), page.cast("string"))
      def linkSpan(href: Column): Column =
        struct(lit("link").as("kind"), lit("a").as("text"),
          href.as("media_ref"), lit(0).as("offset"))
      val t1 = (m * 7 + 3) % 500; val t2 = (m * 13 + 11) % 500
      val t3 = (m * 3 + 1) % 500; val t4 = (m * 5 + 2) % 500
      val t5 = (m * 11 + 7) % 500
      val docs = t(s, dir, "documents").select(
        pageUrl(m % 10, m).as("doc_id"),
        array(
          struct(lit("text").as("kind"), lit("intro").as("text"),
            lit("").as("media_ref"), lit(0).as("offset")),
          linkSpan(pageUrl(t1 % 10, t1)), // absolute, already canonical
          linkSpan(concat(lit("HTTP://H"), (t2 % 10).cast("string"), // needs canonicalization
            lit(".EXAMPLE:80/p"), t2.cast("string"), lit("?b=2&a=1#frag"))),
          linkSpan(concat(lit("/p"), t3.cast("string"))),   // rooted relative
          linkSpan(concat(lit("../p"), t4.cast("string"))), // dot segments
          linkSpan(concat(pageUrl(t5 % 10, t5), lit("#s"))), // fragment strip
          linkSpan(lit("mailto:someone@example.com"))        // non-http ⇒ dropped
        ).as("spans")).as[graft.model.Document]
      val seedUrls = (0 until 25).map(i => s"http://h${i % 10}.example/p$i")
      val frontier = FrontierStep.seedFrontier(s, seedUrls)
      val seen = frontier.select("url")
      val sketch = graft.functions.BloomSketch.create(1L << 12, 0.01)
      seedUrls.foreach(sketch.put)
      val cfg = CrawlConfig(useRobots = false,
        filter = graft.core.HostFilter.Blacklist(Seq("h3.example")),
        fetchMode = FetchMode.CorpusJoin)
      val prefilter = SeenPrefilter.Bloom(
        s.sparkContext.broadcast(new graft.functions.ShardedBloom(Array(sketch))))
      FrontierStep.step(s, frontier, seen, prefilter, docs, cfg, gen = 0)
        .discovered.orderBy("url")
    }),
    // --- multimodal: media blob metadata plumbing (testdata-derived blobs) ------------------------
    "q25_media_meta" -> ((s, dir) =>
      Multimodal.mediaMeta(Multimodal.mediaBlobs(s, mediaDocs(s, dir)))
        .orderBy("doc_id", "media_ref")),
    // --- multimodal: batched feature extraction (stubbed decoder, real plumbing) -----------------
    "q26_media_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.mediaBlobs(s, mediaDocs(s, dir)))
        .toDF().select("doc_id", "media_ref", "n_bytes", "width", "height")
        .orderBy("doc_id", "media_ref")),
    // --- multimodal: batched resize plumbing (aspect-preserving clamp) ----------------------------
    "q31_media_resize" -> ((s, dir) =>
      Multimodal.resizeMedia(Multimodal.mediaBlobs(s, mediaDocs(s, dir)), maxDim = 256)
        .toDF().orderBy("doc_id", "media_ref")),
    // --- multimodal: frame/window sampling fan-out (one blob → N frame rows) ----------------------
    "q32_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.mediaBlobs(s, mediaDocs(s, dir)),
          everyMs = 40000L, maxFrames = 16)
        .toDF().orderBy("doc_id", "media_ref", "frame_idx")),
    // --- dedup: embedding-cosine near-dup pairs — EXACT triangular block join
    // (no cartesian, no per-pair boxing); LSH approximate path spec-tested ----
    "q29_embed_neardup" -> ((s, dir) =>
      Similarity.cosinePairs(t(s, dir, "embeddings"), threshold = 0.35)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine_r"))
        .orderBy("id_a", "id_b")),
    // --- text analysis: rolling-hash document fingerprint -------------------------------------------
    "q30_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        Dedup.fingerprintCol(col("text")).as("fingerprint"))),
    // --- dedup: TRANSITIVE near-dup clusters — distributed min-label propagation ------------------
    "q33_minhash_cc" -> ((s, dir) =>
      Dedup.minhashClusters(t(s, dir, "documents"), threshold = 0.4, shingleN = 2)
        .orderBy("doc_id")),
    // --- text analysis: corpus n-gram frequency (repetition/contamination stats) ------------------
    // builtin higher-order bigrams (no UDF) → explode → ONE count shuffle with
    // map-side partial agg → TakeOrdered top-k; deterministic tie-break
    "q34_ngram_freq" -> ((s, dir) => {
      // guard: Spark's sequence(1, 0) DESCENDS instead of being empty, so a
      // 1-token doc must not reach the bigram transform (DuckDB's
      // range(1, 1) is empty — the filter keeps the sides identical).
      // Tokenize ONCE per row (materialized attribute): an inline split()
      // is copied into every element_at of the interpreted transform
      // lambda and re-splits the text per window (Dedup.ngramsCol doc).
      val toks = split(col("text"), " ")
      t(s, dir, "documents")
        .select(toks.as("toks")).filter(size(col("toks")) >= 2)
        .select(explode(Dedup.ngramsCol(col("toks"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("bigram")).limit(100)
    }),
    // --- dedup: per-doc duplicated n-gram ratio (Lee et al. exact-substring stat) -----------------
    // r6 correctness fix (CORRECTNESS_r05 hash_match=false): the oracle's
    // sum() over BIGINT is a DuckDB HUGEINT, which the driver's pandas
    // normalization turns into float64 ('12.0') while Spark's long stays int
    // ('12') — hash mismatch on equal values. decimal(38,0) normalizes the
    // same as HUGEINT under BOTH fetchall (str '12') and pandas (12.0)
    // paths; the numeric values are unchanged. Same fix on q38/q40/q41/q42/q44.
    "q35_dup_ngrams" -> ((s, dir) =>
      Dedup.dupNgramStats(t(s, dir, "documents"), n = 5)
        .withColumn("dup_windows", col("dup_windows").cast("decimal(38,0)"))),
    // --- decontamination: n-gram overlap vs a benchmark subset (GPT-3 style) ----------------------
    "q36_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminate(
        train = docs.filter(col("doc_id") % 19 =!= 3),
        bench = docs.filter(col("doc_id") % 19 === 3), n = 4)
    }),
    // --- crawl scheduling: host-graph PageRank (integer-exact, iterative w/ lineage cut) ----------
    "q37_host_rank" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_id") % 11 < 2)
      val edges = ev.select(
        concat(lit("h"), (col("user_id") % 80).cast("string")).as("src"),
        concat(lit("h"), (col("event_id") % 80).cast("string")).as("dst"))
      HostGraph.pageRankInt(edges, iters = 5).orderBy("node")
    }),
    // --- dedup: line-level keep-first dedup with document rebuild (RefinedWeb style) --------------
    "q38_line_dedup" -> ((s, dir) =>
      Dedup.lineDedup(Dedup.tokenLines(t(s, dir, "documents"), chunk = 8))
        .withColumn("kept_lines", col("kept_lines").cast("decimal(38,0)"))
        .withColumn("removed_lines", col("removed_lines").cast("decimal(38,0)"))
        .orderBy("doc_id")),
    // --- S4: task serde — binary payload → UTF-8 decode → URL parse; invalid ⇒ dropped -------------
    "q28_task_serde" -> ((s, dir) => {
      val wire = t(s, dir, "events").select(col("event_id"), col("user_id"),
        encode(
          when(col("event_id") % 7 === 0,
            concat(lit("not a url "), col("event_id").cast("string")))
          .otherwise(concat(lit("HTTP://H"), (col("user_id") % 40).cast("string"),
            lit(".EXAMPLE:80/e"), col("event_id").cast("string"))), "UTF-8").as("payload"))
      wire
        .withColumn("task_url",
          UrlFunctions.canonicalizeUrl(col("payload").cast("string")))
        .filter(col("task_url").isNotNull) // Err ⇒ drop (rmqredis.rs:225-229)
        .select("event_id", "task_url")
    }),
    // --- O1 politeness operator in isolation ------------------------------------------------------
    "q27_politeness_cap" -> ((s, dir) => {
      Politeness.markTopKPerHost(eventTasks(s, dir), k = 5)
        .filter(col("selected")).select("url", "host", "priority")
    }),
    // --- O1 + global generation budget: exact distributed top-B across hosts ----------------------
    "q39_gen_budget" -> ((s, dir) => {
      val marked = Politeness.markTopKPerHost(eventTasks(s, dir), k = 5)
      Politeness.capGlobalBudget(marked, budget = 100)
        .filter(col("selected")).select("url", "host", "priority")
        .orderBy("url")
    }),
    // --- quality: within-doc repetition signals (Gopher repetition-rule family) -------------------
    "q40_doc_repetition" -> ((s, dir) =>
      Dedup.docRepetitionStats(t(s, dir, "documents"), chunk = 8)
        .withColumn("n_lines", col("n_lines").cast("decimal(38,0)"))
        .orderBy("doc_id")),
    // --- sampling: deterministic token-budget prefix in md5 order (exact distributed prefix-sum) --
    "q41_token_budget" -> ((s, dir) =>
      Dedup.sampleToTokenBudget(t(s, dir, "documents"), budget = 12000L)
        .withColumn("cum_tokens", col("cum_tokens").cast("decimal(38,0)"))
        .orderBy("doc_id")),
    // --- sampling: per-source mixture budgets in ONE pass (domain mixing) -------------------------
    "q42_mixture_sample" -> ((s, dir) => {
      // formula budgets so the SQL oracle derives them too: 400/500/600 by src index mod 3
      val budgets = (0 until 20).map(i => s"src$i" -> (400L + 100L * (i % 3))).toMap
      Dedup.sampleMixtureTokenBudget(t(s, dir, "documents"), budgets)
        .withColumn("cum_tokens", col("cum_tokens").cast("decimal(38,0)"))
        .orderBy("source", "doc_id")
    }),
    // --- quality: composite reason-coded keep/drop gate (C4/CCNet/Gopher pattern) -----------------
    "q43_quality_gate" -> ((s, dir) =>
      QualityGate(t(s, dir, "documents"), minTokens = 40, minQuality = 0.70,
        langs = Set("en"), maxTopBigram = 0.10)
        .orderBy("doc_id")),
    // --- end-to-end corpus construction: gate → exact dedup → token-budget sample -----------------
    "q44_corpus_build" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val kept = QualityGate(docs, minTokens = 40, minQuality = 0.70,
        langs = Set("en"), maxTopBigram = 0.10).filter(col("keep")).select("doc_id")
      // persist: the gate chain (two text UDFs + the bigram agg) feeds BOTH
      // the dedup winner set and the sampler input — without the cache it
      // evaluates twice in the sampler's shuffle-map stage
      val gated = docs.join(kept, Seq("doc_id")).persist()
      val uniq = Dedup.exact(gated).select("doc_id")
      val out = Dedup.sampleToTokenBudget(gated.join(uniq, Seq("doc_id")), budget = 6000L)
        .withColumn("cum_tokens", col("cum_tokens").cast("decimal(38,0)"))
        .orderBy("doc_id")
      // the sampler's sum job (run inside the call above) materialised its
      // range shuffle, which later jobs replay instead of gated — release now
      gated.unpersist(blocking = false)
      out
    })
  )

  /** Deterministic task table derived from events — q27/q39 input;
   * genBudgetSql/politenessSql mirror it. */
  private def eventTasks(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").select(
      concat(lit("http://h"), (col("user_id") % 50).cast("string"),
        lit(".example/e"), col("event_id").cast("string")).as("url"),
      concat(lit("h"), (col("user_id") % 50).cast("string"), lit(".example")).as("host"),
      (col("event_id") % 10).cast("int").as("priority"),
      col("event_id").as("next_fetch"))

  def oracleSql: Map[String, String] = Map(
    "q01_agg" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | count(*) AS cnt, min(l_extendedprice) AS min_price,
        | max(l_extendedprice) AS max_price
        | FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q02_window_topk" ->
      """SELECT user_id, event_id, value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin,
    "q03_anti_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        | WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)""".stripMargin,
    "q04_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q05_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "q06_filter_whitelist" ->
      """SELECT doc_id, source FROM documents
        | WHERE source LIKE '%src1%' OR source LIKE '%src3%'""".stripMargin,
    "q07_filter_blacklist" ->
      """SELECT doc_id, source FROM documents
        | WHERE NOT (source LIKE '%src1%' OR source LIKE '%src3%')""".stripMargin,
    "q08_explode_tokens" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        | GROUP BY token ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,
    "q09_canonicalize" ->
      """SELECT 'http://' || lower(source) || '.example/p' ||
        |   CAST(doc_id % 7 AS VARCHAR) || '?a=1&b=2' AS url, count(*) AS n
        | FROM documents GROUP BY 1""".stripMargin,
    "q10_url_resolve" ->
      """SELECT doc_id, 'http://' || source || '.example/x' ||
        |   CAST(doc_id % 5 AS VARCHAR) || '.html' AS resolved
        | FROM documents""".stripMargin,
    "q11_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS content_hash,
        |   count(*) - 1 AS dups
        | FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "q12_token_count" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
        |   length(text) AS text_chars FROM documents""".stripMargin,
    "q13_stopword_ratio" ->
      """SELECT doc_id, round(
        |   CAST(len(list_filter(string_split(text, ' '),
        |     x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) /
        |   CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS stop_ratio
        | FROM documents""".stripMargin,
    "q14_union_distinct" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey AS nationkey FROM supplier)""".stripMargin,
    "q15_join_agg" ->
      """SELECT n_name, sum(l_quantity) AS sum_qty, count(*) AS cnt
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q16_window_lag" ->
      """SELECT user_id, event_id,
        |   value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS delta
        | FROM events""".stripMargin,
    "q17_cosine_top1" ->
      """SELECT vec_id, neighbour_id, round(cosine, 4) AS cosine_r FROM (
        |  SELECT a.vec_id AS vec_id, b.vec_id AS neighbour_id,
        |    list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cosine,
        |    row_number() OVER (PARTITION BY a.vec_id
        |      ORDER BY list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) DESC,
        |               b.vec_id ASC) AS rank
        |  FROM embeddings a JOIN embeddings b ON a.vec_id != b.vec_id
        |  WHERE a.vec_id < 50) WHERE rank = 1""".stripMargin,
    "q28_task_serde" ->
      """SELECT event_id, 'http://h' || CAST(user_id % 40 AS VARCHAR) ||
        |   '.example/e' || CAST(event_id AS VARCHAR) AS task_url
        | FROM events WHERE event_id % 7 != 0""".stripMargin,
    // --- hash/sketch/crawl operators: generated SQL that recomputes the
    // engine's exact arithmetic (md5-derived hashes, unsigned-64 wraparound,
    // pinned-order float accumulation) — see graft.oracle.OracleSqlGen -------
    "q18_minhash_pairs" -> OracleSqlGen.minhashPairsSql(threshold = 0.4),
    "q19_simhash" -> OracleSqlGen.simhashSql,
    "q20_lang_id" -> OracleSqlGen.langIdSql,
    "q21_quality_score" -> OracleSqlGen.qualityScoreSql,
    "q22_ann_lsh" -> OracleSqlGen.annLshSql(k = 5, bits = 8, tables = 4),
    "q23_ann_ivf" -> OracleSqlGen.annIvfSql(k = 5, nLists = 8, nProbe = 3, refineSample = 40),
    "q24_crawl_gen1" -> OracleSqlGen.crawlGenSql,
    "q25_media_meta" -> OracleSqlGen.mediaMetaSql,
    "q26_media_features" -> OracleSqlGen.mediaFeaturesSql,
    "q27_politeness_cap" -> OracleSqlGen.politenessSql(perHostCap = 5),
    "q29_embed_neardup" -> OracleSqlGen.embedNearDupSql(threshold = 0.35),
    "q30_fingerprint" -> OracleSqlGen.fingerprintSql,
    "q31_media_resize" -> OracleSqlGen.mediaResizeSql(maxDim = 256),
    "q32_frame_sample" -> OracleSqlGen.frameSampleSql(everyMs = 40000L, maxFrames = 16),
    "q33_minhash_cc" -> OracleSqlGen.minhashClustersSql(threshold = 0.4),
    "q34_ngram_freq" ->
      """SELECT bigram, count(*) AS n FROM (
        |  SELECT unnest(list_transform(
        |    range(1, len(string_split(text, ' '))),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
        |  )) AS bigram FROM documents)
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    // DuckDB list slices are 1-based inclusive: [i : i+n-1] is the n-token
    // window; range(1, x) excludes x, so windows = len-n+1 matches Spark's
    // sequence(1, size-(n-1)). The len >= n filters mirror the Spark-side
    // sequence-descends guard.
    "q35_dup_ngrams" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, len(string_split(text,' ')) - 3),
        |    i -> array_to_string(string_split(text,' ')[i:i+4], ' '))) AS gram
        |  FROM documents WHERE len(string_split(text,' ')) >= 5),
        |freq AS (SELECT gram, count(*) AS f FROM grams GROUP BY gram)
        |SELECT doc_id, count(*) AS n_windows,
        |  sum(CASE WHEN f > 1 THEN 1 ELSE 0 END) AS dup_windows,
        |  round(CAST(sum(CASE WHEN f > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS dup_ratio
        |FROM grams JOIN freq USING (gram) GROUP BY doc_id""".stripMargin,
    "q36_decontaminate" ->
      """WITH grams AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(1, len(string_split(text,' ')) - 2),
        |    i -> array_to_string(string_split(text,' ')[i:i+3], ' '))) AS gram
        |  FROM documents WHERE len(string_split(text,' ')) >= 4),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 19 = 3),
        |train AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 19 != 3)
        |SELECT doc_id, count(*) AS n_hits
        |FROM train JOIN bench USING (gram) GROUP BY doc_id""".stripMargin,
    "q37_host_rank" -> OracleSqlGen.pageRankSql(iters = 5),
    "q39_gen_budget" -> OracleSqlGen.genBudgetSql(perHostCap = 5, budget = 100),
    "q38_line_dedup" ->
      """WITH lines AS (
        |  SELECT doc_id, line_idx,
        |    array_to_string(string_split(text,' ')[(line_idx*8+1):(line_idx*8+8)], ' ') AS line
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, (len(string_split(text,' ')) + 7) // 8)) AS line_idx
        |        FROM documents WHERE len(string_split(text,' ')) >= 1)),
        |ranked AS (
        |  SELECT doc_id, line_idx, line,
        |    row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) AS rn
        |  FROM lines)
        |SELECT doc_id,
        |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS kept_lines,
        |  sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS removed_lines,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN line END, ' ' ORDER BY line_idx), '') AS new_text
        |FROM ranked GROUP BY doc_id""".stripMargin,
    // Same line table as q38 (8-token chunks); counts keyed per (doc, line)
    // and (doc, bigram) so the fractions are exact integers divided once.
    "q40_doc_repetition" ->
      """WITH lines AS (
        |  SELECT doc_id,
        |    array_to_string(string_split(text,' ')[(line_idx*8+1):(line_idx*8+8)], ' ') AS line
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, (len(string_split(text,' ')) + 7) // 8)) AS line_idx
        |        FROM documents WHERE len(string_split(text,' ')) >= 1)),
        |lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line),
        |ls AS (SELECT doc_id, sum(c) AS n_lines, sum(c-1) AS dup_lines,
        |              sum((c-1)*len(line)) AS dup_chars, sum(c*len(line)) AS n_chars
        |       FROM lc GROUP BY doc_id),
        |bg AS (SELECT doc_id, bigram, count(*) AS c FROM (
        |         SELECT doc_id, unnest(list_transform(
        |           range(1, len(string_split(text,' '))),
        |           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1])) AS bigram
        |         FROM documents WHERE len(string_split(text,' ')) >= 2)
        |       GROUP BY doc_id, bigram),
        |bs AS (SELECT doc_id, max(c) AS top_n, sum(c) AS n_bigrams FROM bg GROUP BY doc_id)
        |SELECT ls.doc_id, n_lines,
        |  round(CAST(dup_lines AS DOUBLE) / n_lines, 6) AS dup_line_frac,
        |  CASE WHEN n_chars > 0 THEN round(CAST(dup_chars AS DOUBLE) / n_chars, 6)
        |       ELSE 0.0 END AS dup_line_char_frac,
        |  coalesce(round(CAST(top_n AS DOUBLE) / n_bigrams, 6), 0.0) AS top_bigram_frac
        |FROM ls LEFT JOIN bs ON ls.doc_id = bs.doc_id""".stripMargin,
    // The window running sum is the oracle's form of the distributed
    // prefix-sum; the (md5, doc_id) order is engine-portable by design.
    "q41_token_budget" ->
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         sum(n_tokens) OVER (ORDER BY h, doc_id ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 12000""".stripMargin,
    // Per-source running sums; budgets derive from the source index by the
    // same mod-3 formula the Spark side builds its budget map with.
    "q42_mixture_sample" ->
      """WITH t AS (
        |  SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens,
        |         md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |c AS (
        |  SELECT source, doc_id, n_tokens,
        |         sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |  FROM t)
        |SELECT source, doc_id, n_tokens, cum_tokens FROM c
        |WHERE cum_tokens <= 400 + 100 * (CAST(substring(source, 4) AS INT) % 3)""".stripMargin,
    "q43_quality_gate" -> OracleSqlGen.qualityGateSql(
      minTokens = 40, minQuality = 0.70, langs = Set("en"), maxTopBigram = 0.10),
    "q44_corpus_build" -> OracleSqlGen.corpusBuildSql(
      minTokens = 40, minQuality = 0.70, langs = Set("en"), maxTopBigram = 0.10,
      budget = 6000L)
  )
}
