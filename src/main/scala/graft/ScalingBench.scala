package graft

import graft.corpus.{CorpusConfig, CorpusGen, CorpusTables}
import graft.operators.{CrawlConfig, FrontierStep, SeenPrefilter}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

/**
 * Scaling-evidence harness (BASELINE.md protocol): runs ONE steady-state BSP
 * generation over a ~3M-selected-task frontier at the parallelism given by
 * SPARK_GRAFT_CPUS, printing a single JSON line. Run at two core counts
 * (N and 4N, e.g. 2/8 or 8/32) on this SAME fixed input; efficiency =
 * (throughput@4N / throughput@N) / 4. Results + analysis in BENCH.md.
 *
 * `SPARK_GRAFT_MASTER=local-cluster[W,C,MB]` switches to EXECUTOR-ISOLATED
 * measurement: a standalone master + W workers in-process, each launching a
 * separate C-core executor JVM (own heap, own GC) — the closest spark-submit
 * analogue a single box allows, and the honest way to evidence the
 * north_rule N→4N criterion without thread-packed heap contention.
 * Requires SPARK_HOME=/opt/spark and SPARK_GRAFT_JARS=<path to the sbt
 * package jar> so executors can load the graft classes.
 *
 * `pure` mode (first arg "pure") instead measures the raw fetch+extract+
 * canonicalize hot path on plain threads (no Spark) — the per-core compute
 * ceiling of this machine.
 */
object ScalingBench {

  /** JDK17 module opens Spark 4 needs in every executor JVM (the build
   * injects them into the driver; spark-submit would inject both). */
  private val AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  /** Every corpus page as a gen-0 task row — the full-corpus frontier. */
  private def allPages(spark: SparkSession, cfg: CorpusConfig): DataFrame = {
    import spark.implicits._
    CorpusTables.eachPage(spark, cfg) { (_, h, p) =>
      val url = CorpusGen.pageUrl(h, p)
      (url, CorpusGen.hostName(h), FrontierStep.priorityOf(url), 0L, 0, 0)
    }.toDF("url", "host", "priority", "next_fetch", "retry_count", "gen")
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("pure")) { purePath(); return }
    if (args.headOption.contains("http")) { httpPath(); return }

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val isCluster = master.startsWith("local-cluster[")
    val totalCores =
      if (!isCluster) cpus.toInt
      else {
        val p = master.stripPrefix("local-cluster[").stripSuffix("]").split(",")
        p(0).trim.toInt * p(1).trim.toInt
      }
    val builder = org.apache.spark.sql.SparkSession.builder()
      .master(master).config("spark.sql.shuffle.partitions", totalCores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false")
      // survive stalls >120 s in local mode (see SparkSuite note)
      .config("spark.storage.blockManagerHeartbeatTimeoutMs", "600000")
    if (isCluster) {
      val coresPerExec =
        master.stripPrefix("local-cluster[").stripSuffix("]").split(",")(1).trim.toInt
      // CRITICAL on multi-executor hosts without cgroup core limits: each
      // executor JVM otherwise sizes ParallelGC/JIT threads for ALL host
      // cores — W executors × ~(5/8)·host-cores GC threads thrash the box
      // (measured: 400 s of GC in one 681 task-second stage at 4×8 on 32
      // cores; pinning ActiveProcessorCount to the executor's slice cut the
      // steady-state wall 65 s → 35 s). spark-submit on YARN/K8s gets this
      // from the container's cgroup; standalone does not.
      //
      // Second lesson (round 3, -Xlog:gc on the executors): with the core
      // count pinned low, ParallelGC's ADAPTIVE young gen grows to ~1/3 of
      // the heap, and every young pause then copies hundreds of MB of
      // shuffle/agg survivors with only `coresPerExec` GC threads — 250 ms
      // avg pauses (742 ms max) vs 32 ms for the same workload when the
      // young gen stays small. Capping the young gen at heap/6 bounds the
      // per-pause copy volume: task-attributed GC fell ~5× (50-60 s → 12-14 s
      // per steady-state generation at 4×2-core executors, interleaved A/B).
      //
      // Third lesson (round 5, the §2f input ladder): the bound must be
      // ABSOLUTE per GC thread, not a heap fraction. Sizing executors to a
      // 4× input (12 g) scaled heap/6 to a 2 g young gen and the pathology
      // returned verbatim (130–187 attributed GC s/gen at 4×2 — per-pause
      // copy volume doubled for the same 2 copy threads); -Xmn 512 m per GC
      // thread restored it (61 s, throughput 53–62k → 80k). G1 was probed
      // and rejected: pauses fell to 25 s but its write barriers + concurrent
      // threads cost 20% more task-seconds inside a pinned 2-core slice.
      val execMem = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "6g")
      val heapMb = execMem.toLowerCase match {
        case g if g.endsWith("g") => g.dropRight(1).toInt * 1024
        case m if m.endsWith("m") => m.dropRight(1).toInt
        case other                => other.toInt
      }
      val youngMb = math.max(512, math.min(heapMb / 6, 512 * coresPerExec))
      builder.config("spark.executor.extraJavaOptions",
        s"$AddOpens " + sys.env.getOrElse("SPARK_GRAFT_EXEC_GC",
          s"-XX:+UseParallelGC -XX:ActiveProcessorCount=$coresPerExec" +
          s" -XX:ParallelGCThreads=$coresPerExec -Xmn${youngMb}m"))
      builder.config("spark.executor.memory", execMem)
      sys.env.get("SPARK_GRAFT_JARS").foreach(j => builder.config("spark.jars", j))
    }
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // executor-isolated mode: wait until every worker's executor registered —
    // otherwise the first stages run on whichever JVMs came up first and the
    // 4N run pays 4x the launch cost inside the measured window
    if (isCluster) {
      val workers = master.stripPrefix("local-cluster[").split(",")(0).trim.toInt
      val deadline = System.nanoTime() + 90L * 1000000000L
      while (spark.sparkContext.getExecutorMemoryStatus.size < workers + 1 &&
             System.nanoTime() < deadline) Thread.sleep(200)
      // SPARK_GRAFT_PIN=1: taskset-pin each executor JVM to its own DISJOINT
      // core range (executor i → cores [i·C, (i+1)·C)) and the driver JVM to
      // a fixed high range — before warmup, so JIT warms on the final cores.
      // Removes the cross-JVM thread-migration noise the §2c loadavg columns
      // showed (the scheduler bouncing 4 executor JVMs + driver across all
      // 32 cores), the single biggest variance source in the N→4N
      // efficiency measurement on a shared box. taskset does not RESERVE
      // cores against co-tenants — pair this with a quiet window and
      // interleaved A/B samples (tools/scaling_ab.sh).
      if (sys.env.get("SPARK_GRAFT_PIN").contains("1")) {
        val coresPerExec =
          master.stripPrefix("local-cluster[").stripSuffix("]").split(",")(1).trim.toInt
        val hostCores = Runtime.getRuntime.availableProcessors()
        val execPids = new java.io.File("/proc").listFiles()
          .filter(f => f.isDirectory && f.getName.forall(_.isDigit))
          .flatMap { f =>
            val cl = new java.io.File(f, "cmdline")
            val cmd = try new String(
                java.nio.file.Files.readAllBytes(cl.toPath), "UTF-8")
              catch { case _: java.io.IOException => "" }
            if (cmd.contains("CoarseGrainedExecutorBackend")) Some(f.getName.toLong)
            else None
          }.sorted
        // the executor ranges and the driver's top-4 slice must be disjoint,
        // or the "pinned" label lies about the sample — fail before pinning
        require(execPids.length * coresPerExec <= hostCores - 4,
          s"pinning needs ${execPids.length}*$coresPerExec executor cores + 4 driver " +
          s"cores but the host has $hostCores — ranges would overlap; " +
          "shrink the local-cluster geometry or unset SPARK_GRAFT_PIN")
        def pin(pid: Long, lo: Int, hi: Int): Unit = {
          val p = new ProcessBuilder("taskset", "-a", "-cp", s"$lo-$hi", pid.toString)
            .redirectErrorStream(true).start()
          val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
          // a silent taskset failure means an unpinned JVM contaminating the
          // sample with no signal in the output — treat it as a bench abort
          if (p.waitFor() != 0)
            sys.error(s"taskset failed pinning pid $pid to $lo-$hi: $out")
        }
        execPids.zipWithIndex.foreach { case (pid, i) =>
          pin(pid, i * coresPerExec, (i + 1) * coresPerExec - 1)
        }
        // driver always gets the SAME fixed slice (top 4 cores) so the N and
        // 4N runs give the scheduler/result-handler identical resources
        pin(ProcessHandle.current().pid(), hostCores - 4, hostCores - 1)
        println(s"""{"pinned_executors":${execPids.length},"cores_per_exec":$coresPerExec}""")
      }
    }
    // JIT/codegen warmup ON EVERY EXECUTOR through the exact hot path (a
    // fresh executor JVM interprets the corpus+canonicalize loop until C2
    // kicks in; 8 executors would otherwise each pay that inside the timing)
    {
      val warmCorpus = CorpusConfig(seed = 7L, numHosts = 60000, maxPages = 30000)
      val warmCfg = CrawlConfig(corpus = warmCorpus, perHostCap = 50,
        bloomExpectedItems = 1L << 18, fetchMode = graft.operators.FetchMode.Generator)
      val wf = allPages(spark, warmCorpus)
      val wstep = FrontierStep.step(spark, wf,
        wf.select(col("url")).limit(1), SeenPrefilter.Off,
        graft.corpus.CorpusTables.documents(spark, warmCorpus), warmCfg, 0)
      wstep.outcomes.count(); wstep.discovered.count()
      wstep.persisted.foreach(_.unpersist(blocking = false))
    }

    // SPARK_GRAFT_SS_HOSTS scales the steady-state corpus (default matches
    // rounds 1-3: 1.2M hosts ⇒ ~3.15M fetched pages). For the N→4N
    // efficiency measurement the SAME value must be used at both cluster
    // sizes — a larger fixed input raises the parallel fraction so the
    // per-generation fixed cost (job scheduling, stage barriers) doesn't
    // masquerade as poor scaling, exactly as a production frontier
    // (10^8+ tasks/generation) would dwarf it.
    val ssHosts = sys.env.getOrElse("SPARK_GRAFT_SS_HOSTS", "1200000").toInt
    val ssCorpus = CorpusConfig(seed = 42L, numHosts = ssHosts,
      maxPages = 400000)
    // SPARK_GRAFT_CARRY_HOST=false switches to the narrow-shuffle variant
    // (host re-derived post-dedup, ~25% fewer shuffle BYTES — the trade
    // that matters when the shuffle crosses executors/network, i.e. in
    // local-cluster mode and on real clusters; golden-tested identical)
    val carryHost = sys.env.get("SPARK_GRAFT_CARRY_HOST").forall(_.toBoolean)
    val ssCfg = CrawlConfig(corpus = ssCorpus, perHostCap = 200,
      bloomExpectedItems = 1L << 23, fetchMode = graft.operators.FetchMode.Generator,
      carryHostThroughDedup = carryHost)
    val megaFrontier = allPages(spark, ssCorpus)
    // distributed seed-seen (a LIMIT would execute as one straggler task)
    val seedSeen = megaFrontier.select(col("url"))
      .filter(pmod(xxhash64(col("url")), lit(2000)) === 0)
    val ssDocs = graft.corpus.CorpusTables.documents(spark, ssCorpus) // lazy; unused in Generator mode

    // per-stage evidence: attributed task time + straggler ratio per stage
    val sm = new graft.loop.StageMetrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(sm)

    val t0 = System.nanoTime()
    val wallStartMs = System.currentTimeMillis() // span offsets are relative to THIS
    val trace = sys.env.get("SPARK_GRAFT_TRACE").contains("1")
    def tr(what: String): Unit =
      if (trace) System.err.println(f"TRACE ${(System.nanoTime() - t0) / 1e9}%.2f $what")
    val (fetched, discovered) = sm.labelled(0, "steady_state") {
      val step = FrontierStep.step(spark, megaFrontier, seedSeen, SeenPrefilter.Off, ssDocs, ssCfg, 0)
      tr("step constructed")
      val o = step.outcomes.count()
      tr("outcomes counted")
      val d = step.discovered.count()
      tr("discovered counted")
      (o, d)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    // wall occupancy: how much of the wall had ≥1 stage running vs
    // scheduler/driver gaps between stages (the non-task share of the
    // §2d/§2f utilization term — tails INSIDE stages are the rest)
    // spans are read AFTER sec is captured (stageSpans settles the listener
    // bus, which takes time of its own) — so the wall window is anchored at
    // the recorded start, never reconstructed backwards from "now"
    val spans = sm.stageSpans(0)
    val spansJson = spans.map { case (sid, s, e) =>
      s"[$sid,${s - wallStartMs},${e - wallStartMs}]"
    }.mkString("[", ",", "]")
    val coveredMs = {
      var covered = 0L; var hi = Long.MinValue
      spans.foreach { case (_, s, e) =>
        if (s > hi) { covered += e - s; hi = e }
        else if (e > hi) { covered += e - hi; hi = e }
      }
      covered
    }
    val stages = sm.drain(0).map { r => // drain settles the listener bus itself
      val mean = if (r.tasks == 0) 0L else r.task_time_ms / r.tasks
      s"""{"stage":${r.stage_id},"tasks":${r.tasks},"task_time_ms":${r.task_time_ms},""" +
      s""""max_task_ms":${r.max_task_ms},"straggle":${if (mean == 0) 0.0 else r.max_task_ms.toDouble / mean},""" +
      s""""gc_ms":${r.gc_ms},"fetch_wait_ms":${r.fetch_wait_ms},""" +
      s""""shuffle_read_mb":${r.shuffle_read_bytes / 1048576},"shuffle_write_mb":${r.shuffle_write_bytes / 1048576}}"""
    }.mkString("[", ",", "]")
    println(s"""{"bench":"steady_state_generation","master":"$master",""" +
      s""""total_cores":$totalCores,""" +
      s""""fetched":$fetched,"discovered":$discovered,"wall_sec":$sec,""" +
      s""""urls_fetched_per_sec":${fetched / sec},""" +
      s""""frontier_dedup_per_sec":${discovered / sec},""" +
      s""""stage_covered_sec":${coveredMs / 1e3},""" +
      s""""sched_gap_sec":${math.max(0.0, sec - coveredMs / 1e3)},""" +
      s""""stage_spans_ms":$spansJson,""" +
      s""""stages":$stages}""")
    spark.stop()
  }

  /** `http` mode: ONE steady-state generation through the PRODUCTION fetch
   * path — real loopback sockets, robots.txt fetched over the wire for
   * every cache-miss host, per-partition pooled HTTP clients, the tolerant
   * HTML tokenizer in hrefs-only mode, canonicalize, politeness, dedup.
   * The deterministic corpus is served by an in-process HttpServer, so the
   * number is a single-box LOWER bound: client executors and server
   * threads share the same cores, and every page pays a real HTTP
   * round-trip that the Generator mode does not. Knobs:
   * SPARK_GRAFT_HTTP_HOSTS (corpus hosts, default 60000),
   * SPARK_GRAFT_HTTP_SRV (server threads, default 16),
   * SPARK_GRAFT_HTTP_WINDOW (async in-flight requests per fetch partition,
   * default 16; 1 = the old synchronous path),
   * SPARK_GRAFT_HTTP_DELAY_MS (server-side sleep per request, default 0 —
   * emulates WAN RTT so the latency-bound regime, where the window is the
   * whole ballgame, is measurable on loopback; raise SPARK_GRAFT_HTTP_SRV
   * accordingly, the sleep occupies a server thread). */
  private def httpPath(): Unit = {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.ui.enabled", "false")
      // survive stalls >120 s in local mode (see SparkSuite note)
      .config("spark.storage.blockManagerHeartbeatTimeoutMs", "600000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val hosts = sys.env.getOrElse("SPARK_GRAFT_HTTP_HOSTS", "60000").toInt
    val window = sys.env.getOrElse("SPARK_GRAFT_HTTP_WINDOW", "16").toInt
    val delayMs = sys.env.getOrElse("SPARK_GRAFT_HTTP_DELAY_MS", "0").toLong
    // serve gzip-compressed pages (clients advertise it; a real web server
    // would) — measures the transparent-decode path's throughput cost and
    // the wire-bytes saving at full crawl rate
    val gzipPages = sys.env.get("SPARK_GRAFT_HTTP_GZIP").contains("1")
    val corpus = CorpusConfig(seed = 42L, numHosts = hosts, maxPages = hosts / 2)
    // without this the sun HttpServer's two-segment response (headers, then
    // body) trips Nagle + delayed ACK: ~40 ms per request, ~500 urls/s no
    // matter the parallelism (measured; 25× faster with it)
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 4096)
    val RobotsRe = "^h([0-9]+)\\.example/robots\\.txt$".r
    server.createContext("/", (ex: HttpExchange) => {
      val raw = ex.getRequestURI.getRawPath.stripPrefix("/") +
        Option(ex.getRequestURI.getRawQuery).map("?" + _).getOrElse("")
      val (status, body) = raw match {
        case RobotsRe(hs) =>
          val h = hs.toInt
          val dis = CorpusGen.robotsDisallows(corpus, h)
          val dly = CorpusGen.crawlDelayOf(corpus, h)
          if (dis.isEmpty && dly == 0) (404, "no robots here")
          else (200, "User-agent: *\n" + dis.map("Disallow: " + _).mkString("\n") +
            (if (dly > 0) s"\nCrawl-delay: $dly" else ""))
        case _ => CorpusGen.resolvePage(corpus, s"http://$raw") match {
          case CorpusGen.PageLookup.Found(h, p) => (200, CorpusGen.pageHtml(corpus, h, p))
          case _ => (404, "gone")
        }
      }
      val plain = body.getBytes("UTF-8")
      val bytes =
        if (gzipPages && status == 200 &&
            Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
              .exists(_.contains("gzip"))) {
          val bo = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bo)
          g.write(plain); g.close()
          ex.getResponseHeaders.set("Content-Encoding", "gzip")
          bo.toByteArray
        } else plain
      if (delayMs > 0) Thread.sleep(delayMs) // emulated WAN RTT
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    val srvThreads = sys.env.getOrElse("SPARK_GRAFT_HTTP_SRV", "16").toInt
    val srvPool = java.util.concurrent.Executors.newFixedThreadPool(srvThreads)
    server.setExecutor(srvPool)
    server.start()
    val port = server.getAddress.getPort
    val rewrite: String => String = { url =>
      val host = graft.core.UrlCanon.hostOf(url)
      s"http://127.0.0.1:$port/$host${graft.core.Robots.pathOf(url)}"
    }
    val cfg = CrawlConfig(corpus = corpus, perHostCap = 200,
      bloomExpectedItems = 1L << 20,
      fetchMode = graft.operators.FetchMode.Http(rewrite, connectTimeoutMs = 5000,
        requestTimeoutMs = 20000, fetchWindow = window))

    // small warmup through the same path (JIT on client + server)
    {
      val wCorpus = CorpusConfig(seed = 7L, numHosts = 500, maxPages = 500)
      // served pages come from `corpus` — warm against real corpus hosts
      val wf = allPages(spark, wCorpus)
      val ws = FrontierStep.step(spark, wf, wf.select(
        org.apache.spark.sql.functions.col("url")).limit(1), SeenPrefilter.Off,
        graft.corpus.CorpusTables.documents(spark, wCorpus), cfg, 0)
      ws.outcomes.count(); ws.discovered.count()
      ws.persisted.foreach(_.unpersist(blocking = false))
    }

    val frontier = allPages(spark, corpus)
    val seedSeen = frontier.select(org.apache.spark.sql.functions.col("url")).limit(1)
    val docs = graft.corpus.CorpusTables.documents(spark, corpus) // unused in Http mode
    val t0 = System.nanoTime()
    val step = FrontierStep.step(spark, frontier, seedSeen, SeenPrefilter.Off, docs, cfg, 0)
    val fetched = step.outcomes.count()
    val ok = step.outcomes.filter(org.apache.spark.sql.functions
      .col("outcome") === "ok").count()
    val discovered = step.discovered.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"""{"bench":"http_steady_state","cpus":$cpus,""" +
      s""""server_threads":$srvThreads,"hosts":$hosts,""" +
      s""""fetch_window":$window,"server_delay_ms":$delayMs,""" +
      s""""gzip":$gzipPages,""" +
      s""""fetched":$fetched,"ok":$ok,"discovered":$discovered,""" +
      s""""wall_sec":$sec,"urls_fetched_per_sec":${fetched / sec}}""")
    server.stop(0)
    srvPool.shutdownNow()
    spark.stop()
    // bench main: force exit — the executor JVM-shared HttpClients (JDK 17
    // has no close()) would otherwise keep non-daemon threads alive
    sys.exit(0)
  }

  /** Pure-thread hot path (no Spark): the machine's per-core compute ceiling
   * for the Generator fetch + extract kernel. */
  private def purePath(): Unit = {
    val cfg = CorpusConfig(seed = 42L, numHosts = 400000, maxPages = 150000)
    def work(tid: Int, iters: Int): Long = {
      var acc = 0L
      var i = 0
      while (i < iters) {
        val h = (tid * 31 + i) % cfg.numHosts
        val p = i % math.max(1, CorpusGen.pageCount(cfg, h))
        FrontierStep.corpusCandidates(cfg, CorpusGen.pageUrl(h, p))
          .foreach { case (u, ho) => acc += u.length + ho.length }
        i += 1
      }
      acc
    }
    work(99, 20000) // JIT warmup
    val out = Seq.newBuilder[String]
    for (n <- Seq(1, 2, 8, 32)) {
      val per = 480000 / n
      val t0 = System.nanoTime()
      val threads = (0 until n).map { t =>
        val th = new Thread(() => { work(t, per); () }); th.start(); th
      }
      threads.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      out += s"""{"threads":$n,"pages":${per * n},"pages_per_sec":${(per * n / sec).toLong}}"""
    }
    println(out.result().mkString("[", ",", "]"))
  }
}
