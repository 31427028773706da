package graft

import graft.corpus.{CorpusConfig, CorpusTables}
import graft.streaming.FrontierStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Structured Streaming smoke: file-source documents stream through the
 * same P1-P6 operators, with stateful dedup and watermarked metrics.
 * The WHOLE suite runs under the RocksDB state store provider — the
 * production config for unbounded URL-seen state (FrontierStream.dedupStream
 * scaladoc) — so every parity assertion here is also a RocksDB-parity
 * assertion. */
class StreamingSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {
  private lazy val spark = {
    val s = SparkSuite.spark
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  // the session is SHARED across suites — restore the default provider so a
  // later suite's streaming query doesn't silently inherit RocksDB
  override def afterAll(): Unit = {
    SparkSuite.spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    super.afterAll()
  }

  private def stage(cfg: CorpusConfig): (String, Long) = {
    val dir = Files.createTempDirectory("graft-stream").toString
    val docs = CorpusTables.documents(spark, cfg).toDF()
    docs.write.mode("overwrite").parquet(dir)
    (dir, docs.count())
  }

  test("linkStream + dedupStream: streaming output = batch distinct links (RocksDB state)") {
    val cfg = CorpusConfig(seed = 42L, numHosts = 8, maxPages = 16)
    val (dir, _) = stage(cfg)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)

    val links = FrontierStream.linkStream(stream)
    val deduped = FrontierStream.dedupStream(spark, links)
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("stream_links")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("stream_links").collect().map(_.getString(0)).toSet
    val want = FrontierStream.linkStream(spark.read.parquet(dir))
      .select("url").distinct().collect().map(_.getString(0)).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // the RocksDB provider actually engaged: its checkpoints are uploaded as
    // zip/changelog artifacts, unlike the default provider's .delta files
    val names = {
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(ckpt, "state"))
      try scala.jdk.CollectionConverters.IteratorHasAsScala(walk.iterator())
        .asScala.map(_.getFileName.toString).toVector
      finally walk.close()
    }
    assert(names.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
      s"no RocksDB state artifacts under $ckpt/state: ${names.take(10)}")
    assert(!names.exists(_.endsWith(".delta")),
      "default HDFS-backed state files present — RocksDB provider did not engage")
  }

  test("dedupStream with a state TTL: same output, ProcessingTimeTimeout path") {
    // ttl >> test duration ⇒ no eviction can fire, so output must equal the
    // exact-dedup path — this pins the timeout-variant state machine
    // (register timeout on first sight, refresh on re-arrival) end-to-end
    // under RocksDB; eviction semantics are documented in the scaladoc
    val cfg = CorpusConfig(seed = 42L, numHosts = 8, maxPages = 16)
    val (dir, _) = stage(cfg)
    val schema = spark.read.parquet(dir).schema
    val links = FrontierStream.linkStream(spark.readStream.schema(schema).parquet(dir))
    val want = FrontierStream.linkStream(spark.read.parquet(dir))
      .select("url").distinct().collect().map(_.getString(0)).toSet
    val q = FrontierStream.dedupStream(spark, links, stateTtlMs = Some(3600L * 1000))
      .writeStream.outputMode("append").format("memory").queryName("stream_links_ttl")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt-ttl").toString)
      .trigger(Trigger.AvailableNow()).start()
    // a query with registered ProcessingTime timeouts MAY schedule batches
    // beyond the data (to fire them) or terminate on its own — and
    // processAllAvailable can park forever on an already-terminated query
    // (no new-data signal ever arrives). Poll the SINK to completion, then
    // stop explicitly (production would run continuous anyway).
    val deadline = System.currentTimeMillis() + 120000
    while (System.currentTimeMillis() < deadline && q.isActive &&
        spark.table("stream_links_ttl").count() < want.size) Thread.sleep(200)
    q.stop()
    q.awaitTermination(120000)
    val got = spark.table("stream_links_ttl").collect().map(_.getString(0)).toSet
    assert(got == want)
  }

  test("politeStream defers next_fetch > gen (batch eligibility parity)") {
    // delayed/requeued tasks must NOT be fetched early: rows with an unopened
    // next_fetch window are excluded from the budget take, exactly the batch
    // engine's eligibility split (Politeness.markEligibleTopK)
    val s = spark
    import s.implicits._
    val gen = 3L
    val rows = (for {
      h <- 1 to 6; i <- 1 to 8
    } yield (s"http://h$h.example/p$i", s"h$h.example", i % 4,
        if ((h + i) % 3 == 0) gen + 2 else 0L, 0, gen.toInt))
      .toDF("url", "host", "priority", "next_fetch", "retry_count", "gen")
    val fDir = Files.createTempDirectory("graft-elig").toString
    rows.coalesce(1).write.mode("overwrite").parquet(fDir)
    val schema = spark.read.parquet(fDir).schema
    val q = FrontierStream.politeStream(spark,
        spark.readStream.schema(schema).parquet(fDir), k = 2, gen = gen)
      .writeStream.outputMode("append").format("memory").queryName("stream_elig")
      .option("checkpointLocation", Files.createTempDirectory("graft-ck-el").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("stream_elig").collect().map(_.getString(0)).toSet
    val want = graft.operators.Politeness
      .markEligibleTopK(rows, k = 2, saltBuckets = 4, gen, None)
      .filter(col("selected")).collect().map(_.getString(0)).toSet
    assert(got == want,
      s"stream-only=${(got -- want).take(3)} batch-only=${(want -- got).take(3)}")
    assert(rows.filter(col("next_fetch") > gen).collect()
      .map(_.getString(0)).toSet.intersect(got).isEmpty,
      "a delay-deferred task was fetched early")
  }

  test("streaming crawl generation ≡ batch generation (politeness, fetch, discover parity)") {
    // the two-query streaming crawl surface must reproduce the batch
    // engine's generation exactly: same frontier in ⇒ same politeness
    // selection and same discovered set out. Input = the batch engine's own
    // frontier(1) (mixed under/over-cap hosts), seen = seeds ∪ discovered(1).
    val s = spark
    import s.implicits._
    import graft.corpus.CorpusGen
    import graft.model.Task
    import graft.operators.{CrawlConfig, FrontierStep, SeenPrefilter}
    val corpus = CorpusConfig(seed = 42L, numHosts = 10, maxPages = 20)
    val cfg = CrawlConfig(corpus = corpus, perHostCap = 2,
      fetchMode = graft.operators.FetchMode.Generator)
    val docs = CorpusTables.documents(spark, cfg.corpus)
    val seeds = CorpusGen.seeds(corpus, 3)
    val f0 = FrontierStep.seedFrontier(spark, seeds)
    val step1 = FrontierStep.step(spark, f0, f0.select("url"), SeenPrefilter.Off, docs, cfg, 0)
    val taskCols = Seq("url", "host", "priority", "next_fetch", "retry_count", "gen")
    val frontier1 = step1.nextFrontier.select(taskCols.map(col): _*).persist()
    val seen1 = f0.select("url").union(step1.discovered.select("url")).persist()
    assert(frontier1.count() > 0)

    // ---- batch reference: generation 2
    val step2 = FrontierStep.step(spark, frontier1, seen1, SeenPrefilter.Off, docs, cfg, 1)
    val batchSelected = step2.outcomes.select("url").collect().map(_.getString(0)).toSet
    val batchDiscovered = step2.discovered.select("url").collect().map(_.getString(0)).toSet
    assert(batchSelected.nonEmpty && batchDiscovered.nonEmpty)

    // ---- streaming: query 1 — politeness (stateful) → fetch+extract
    val fDir = Files.createTempDirectory("graft-sfrontier").toString
    frontier1.coalesce(1).write.mode("overwrite").parquet(fDir) // ONE file ⇒ one micro-batch
    val fSchema = spark.read.parquet(fDir).schema
    def frontierStream = spark.readStream.schema(fSchema).parquet(fDir)

    val selQ = FrontierStream.politeStream(spark, frontierStream, cfg.perHostCap, gen = 0L)
      .writeStream.outputMode("append").format("memory").queryName("stream_sel")
      .option("checkpointLocation", Files.createTempDirectory("graft-ck-sel").toString)
      .trigger(Trigger.AvailableNow()).start()
    selQ.awaitTermination(120000)
    val streamSelected = spark.table("stream_sel").collect().map(_.getString(0)).toSet
    assert(streamSelected == batchSelected,
      s"politeness parity broke: stream-only=${(streamSelected -- batchSelected).take(3)} " +
      s"batch-only=${(batchSelected -- streamSelected).take(3)}")

    val candQ = FrontierStream.fetchExtractStream(spark,
        FrontierStream.politeStream(spark, frontierStream, cfg.perHostCap, gen = 0L), corpus)
      .writeStream.outputMode("append").format("memory").queryName("stream_cand")
      .option("checkpointLocation", Files.createTempDirectory("graft-ck-cand").toString)
      .trigger(Trigger.AvailableNow()).start()
    candQ.awaitTermination(120000)

    // ---- streaming: query 2 — the exchange feeds filter/robots/anti-join/dedup
    val cDir = Files.createTempDirectory("graft-scand").toString
    spark.table("stream_cand").coalesce(1).write.mode("overwrite").parquet(cDir)
    val cSchema = spark.read.parquet(cDir).schema
    val discQ = FrontierStream.discoverStream(spark,
        spark.readStream.schema(cSchema).parquet(cDir), seen1, cfg.filter, corpus)
      .writeStream.outputMode("append").format("memory").queryName("stream_disc")
      .option("checkpointLocation", Files.createTempDirectory("graft-ck-disc").toString)
      .trigger(Trigger.AvailableNow()).start()
    discQ.awaitTermination(120000)
    val streamDiscovered = spark.table("stream_disc").collect().map(_.getString(0)).toSet
    assert(streamDiscovered == batchDiscovered,
      s"discover parity broke: stream-only=${(streamDiscovered -- batchDiscovered).take(3)} " +
      s"batch-only=${(batchDiscovered -- streamDiscovered).take(3)}")

    // the per-host budget STATE actually bites across batches: replaying the
    // same frontier as a second micro-batch into the same checkpoint emits
    // nothing new (budgets exhausted)
    frontier1.coalesce(1).write.mode("append").parquet(fDir)
    val oneFilePerBatch = spark.readStream.schema(fSchema)
      .option("maxFilesPerTrigger", 1).parquet(fDir) // original, THEN the replay
    val selQ2 = FrontierStream.politeStream(spark, oneFilePerBatch, cfg.perHostCap, gen = 0L)
      .writeStream.outputMode("append").format("memory").queryName("stream_sel2")
      .option("checkpointLocation", Files.createTempDirectory("graft-ck-sel2").toString)
      .trigger(Trigger.AvailableNow()).start()
    selQ2.awaitTermination(120000)
    val withReplay = spark.table("stream_sel2").collect().map(_.getString(0)).toSet
    assert(withReplay == batchSelected,
      "politeness budget state failed to cap a replayed frontier batch")
    frontier1.unpersist(); seen1.unpersist()
    step1.persisted.foreach(_.unpersist()); step2.persisted.foreach(_.unpersist())
  }

  test("streaming HTTP fetch stage over real sockets ≡ corpus fetch stage") {
    // the production streaming fetch (pooled HttpClient per partition, raw
    // anchor extraction, fused resolve+canonicalize, within-page dedup)
    // must emit exactly the candidates the corpus-backed stage emits for
    // the same selected tasks — the loopback server serves pageHtml, whose
    // hrefs round-trip the generator's (FetcherSpec invariant)
    val s = spark
    import s.implicits._
    import graft.corpus.CorpusGen
    import graft.operators.FrontierStep
    val corpus = CorpusConfig(seed = 42L, numHosts = 8, maxPages = 16)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val raw = ex.getRequestURI.getRawPath.stripPrefix("/")
      val (status, body) = CorpusGen.resolvePage(corpus, s"http://$raw") match {
        case CorpusGen.PageLookup.Found(h, p) => (200, CorpusGen.pageHtml(corpus, h, p))
        case _ => (404, "gone")
      }
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    try {
      val port = server.getAddress.getPort
      val rewrite: String => String = { url =>
        val host = graft.core.UrlCanon.hostOf(url)
        s"http://127.0.0.1:$port/$host" + graft.core.Robots.pathOf(url)
      }
      val fDir = Files.createTempDirectory("graft-shttp").toString
      FrontierStep.seedFrontier(spark, CorpusGen.seeds(corpus, 4))
        .coalesce(1).write.mode("overwrite").parquet(fDir)
      val schema = spark.read.parquet(fDir).schema
      def tasks = FrontierStream.politeStream(spark,
        spark.readStream.schema(schema).parquet(fDir), 3, gen = 0L)
      val httpQ = FrontierStream.fetchExtractStreamHttp(spark, tasks, rewrite)
        .writeStream.outputMode("append").format("memory").queryName("shttp_cand")
        .option("checkpointLocation", Files.createTempDirectory("graft-ck-sh").toString)
        .trigger(Trigger.AvailableNow()).start()
      httpQ.awaitTermination(120000)
      val corpusQ = FrontierStream.fetchExtractStream(spark, tasks, corpus)
        .writeStream.outputMode("append").format("memory").queryName("scorp_cand")
        .option("checkpointLocation", Files.createTempDirectory("graft-ck-sc").toString)
        .trigger(Trigger.AvailableNow()).start()
      corpusQ.awaitTermination(120000)
      def set(t: String) = spark.table(t).collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val http = set("shttp_cand")
      val corp = set("scorp_cand")
      assert(http.nonEmpty)
      assert(http == corp,
        s"http-only=${(http -- corp).take(3)} corpus-only=${(corp -- http).take(3)}")
    } finally server.stop(0)
  }

  test("streaming HTTP fetch TEES non-Ok outcomes (one outcome row per task)") {
    // the Full form must not drop failed fetches: every task emits exactly
    // one outcome row from the same single-fetch pass that emits candidates;
    // a 404 page arrives as err/InvalidPage with zero candidate rows, and so
    // does a 200 page whose body is not valid UTF-8 (the reference's Parsing
    // error) — classified exactly as the batch Http step classifies it
    val s = spark
    import s.implicits._
    import graft.corpus.CorpusGen
    val corpus = CorpusConfig(seed = 42L, numHosts = 4, maxPages = 8)
    // an anchor the page would yield if its body were decoded leniently,
    // followed by a byte that is never valid UTF-8
    val malformedBody = "<html><body><a href=\"http://leak.example/x\">x</a>"
      .getBytes("UTF-8") ++ Array(0xff.toByte, 0xfe.toByte)
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val raw = ex.getRequestURI.getRawPath.stripPrefix("/")
      val (status, bytes) =
        if (raw.startsWith("malformed.example/")) (200, malformedBody)
        else CorpusGen.resolvePage(corpus, s"http://$raw") match {
          case CorpusGen.PageLookup.Found(h, p) =>
            (200, CorpusGen.pageHtml(corpus, h, p).getBytes("UTF-8"))
          case _ => (404, "gone".getBytes("UTF-8"))
        }
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(2))
    server.start()
    try {
      val port = server.getAddress.getPort
      val rewrite: String => String = { url =>
        val host = graft.core.UrlCanon.hostOf(url)
        s"http://127.0.0.1:$port/$host" + graft.core.Robots.pathOf(url)
      }
      val good = CorpusGen.seeds(corpus, 2)
      val bad = Seq("http://no-such-host.example/missing", "http://malformed.example/page")
      val fDir = Files.createTempDirectory("graft-tee").toString
      val frontier = graft.operators.FrontierStep.seedFrontier(spark, good ++ bad)
      frontier.coalesce(1).write.mode("overwrite").parquet(fDir)
      val schema = spark.read.parquet(fDir).schema
      val tasks = spark.readStream.schema(schema).parquet(fDir)
        .as[graft.model.Task]
      val q = FrontierStream.fetchExtractStreamHttpFull(spark, tasks, rewrite)
        .writeStream.outputMode("append").format("memory").queryName("stream_tee")
        .option("checkpointLocation", Files.createTempDirectory("graft-ck-tee").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
      val rows = spark.table("stream_tee").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(3), r.getString(4)))
      val outcomes = rows.filter(_._1 == "outcome")
      assert(outcomes.length == good.size + bad.size,
        s"expected one outcome row per task, got ${outcomes.length}")
      val byUrl = outcomes.map(o => o._2 -> ((o._3, o._4))).toMap
      good.foreach(u => assert(byUrl(u) == (("ok", "")), s"$u → ${byUrl(u)}"))
      bad.foreach(u => assert(byUrl(u) == (("err", "InvalidPage")), s"$u → ${byUrl(u)}"))
      val cands = rows.filter(_._1 == "candidate")
      assert(cands.nonEmpty, "good pages should still emit candidates")
      assert(!cands.exists(c => c._2.contains("no-such-host") || c._2.contains("leak.example")),
        "a failed fetch emitted candidates")

      // the batch Http step classifies the same pages identically
      val cfg = graft.operators.CrawlConfig(corpus = corpus, useRobots = false,
        fetchMode = graft.operators.FetchMode.Http(rewrite))
      val step = graft.operators.FrontierStep.step(spark, frontier, frontier.select("url"),
        graft.operators.SeenPrefilter.Off, CorpusTables.documents(spark, corpus), cfg, 0)
      val batch = step.outcomes.collect()
        .map(r => r.getString(1) -> ((r.getString(2), r.getString(3)))).toMap
      step.persisted.foreach(_.unpersist())
      good.foreach(u => assert(batch(u) == (("ok", "")), s"batch $u → ${batch(u)}"))
      bad.foreach(u => assert(batch(u) == (("err", "InvalidPage")), s"batch $u → ${batch(u)}"))
    } finally server.stop(0)
  }

  test("windowed outcome metrics with watermark aggregate by window+outcome") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-oc").toString
    Seq(
      (0, "http://a/1", "ok", "", java.sql.Timestamp.valueOf("2026-01-01 10:00:10")),
      (0, "http://a/2", "ok", "", java.sql.Timestamp.valueOf("2026-01-01 10:01:00")),
      (0, "http://a/3", "err", "InvalidPage", java.sql.Timestamp.valueOf("2026-01-01 10:02:00")),
      (1, "http://a/4", "ok", "", java.sql.Timestamp.valueOf("2026-01-01 10:07:00"))
    ).toDF("gen", "url", "outcome", "error_kind", "ts")
      .write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = spark.readStream.schema(schema).parquet(dir)
    // complete mode: append-mode windows only emit on a LATER batch advancing
    // the watermark; a one-shot AvailableNow run has none
    val q = FrontierStream.windowedOutcomeMetrics(stream)
      .writeStream.outputMode("complete").format("memory").queryName("oc_metrics")
      .option("checkpointLocation", Files.createTempDirectory("graft-ckpt2").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val rows = spark.table("oc_metrics").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    assert(rows.contains(("2026-01-01 10:00:00.0", "ok", 2L)), s"got $rows")
    assert(rows.contains(("2026-01-01 10:00:00.0", "err", 1L)), s"got $rows")
    assert(rows.contains(("2026-01-01 10:05:00.0", "ok", 1L)), s"got $rows")
  }
}
