package graft.operators

import graft.core.{Extract, HostFilter, Robots, UrlCanon}
import graft.corpus.{CorpusConfig, CorpusGen}
import graft.functions.{BloomSketch, UrlFunctions}
import graft.model.{Document, Outcome, Span, Task}
import graft.sources.{FetchResult, HttpFetcher}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** How pages are fetched (reference: Downloader trait, traits.rs:46-48).
 *  - CorpusJoin: equi-join frontier × documents table — the "corpus as a
 *    durable table" path; exercises the join machinery; cost ∝ corpus size.
 *  - Generator: narrow per-row fetch from the deterministic corpus function —
 *    the exact dataflow shape of the production `mapPartitions` HTTP fetcher
 *    (HttpFetcher): cost ∝ SELECTED tasks only, zero shuffle, no corpus scan.
 *  Both modes are golden-tested to produce identical crawls. */
sealed trait FetchMode extends Serializable
object FetchMode {
  case object CorpusJoin extends FetchMode
  case object Generator extends FetchMode
  /** Production path: real sockets via HttpFetcher (one pooled client per
   * executor), HTML anchor extraction, fused resolve+canonicalize. `rewrite`
   * maps a task URL to the URL actually fetched (identity in production; the
   * loopback golden test maps corpus hosts to 127.0.0.1:port).
   * `fetchWindow` = async requests in flight per fetch partition
   * (HttpFetcher.fetchWindowed): a real crawl is latency-bound, and a
   * synchronous send per task slot caps throughput at cores/RTT; the window
   * restores it to ≈ window×partitions/RTT. Per-host concurrency stays
   * ≤ perHostCap cluster-wide (the politeness cap bounds a host's selected
   * tasks per generation — the reference's prefetch-5 shape). 1 ⇒ strictly
   * sequential. `maxBodyBytes` caps every page body read (truncate-at-cap,
   * HttpFetcher bounded-bodies contract; `<= 0` = unbounded = the
   * reference's exact behavior); robots fetches use the fixed 512 KiB
   * robots convention regardless. */
  final case class Http(rewrite: String => String = identity,
      connectTimeoutMs: Int = 5000, requestTimeoutMs: Int = 20000,
      fetchWindow: Int = 16,
      maxBodyBytes: Long = HttpFetcher.DefaultMaxBodyBytes) extends FetchMode
}

/** One Http-fetched page after extraction (FrontierStep.fetchHttp) — all
 * that leaves the fetch partition: outcome + error kind, the canonical
 * in-page-deduped (url, host) candidates, and the span sequence and parse
 * coverage when archiving (Nil / 0.0 otherwise). */
final case class FetchedPage(outcome: String, errorKind: String,
    links: Seq[(String, String)], spans: Seq[Span], parseCov: Double)

/** Engine configuration for the BSP crawl loop. */
final case class CrawlConfig(
    corpus: CorpusConfig = CorpusConfig(),
    perHostCap: Int = 5,        // reference prefetch_count default (main.rs:126-132)
    /** Global fetches-per-generation cap, 0 = unlimited (reference parity).
     * The per-host cap bounds each HOST's work; nothing bounds the
     * GENERATION — at 10^8 discovered hosts one BSP step is hosts·cap
     * fetches. With a budget, only the best `genBudget` selected tasks
     * (global (priority, next_fetch, url) order, exact distributed top-B —
     * Politeness.capGlobalBudget) fetch this generation; the rest take the
     * deferred path and re-compete next generation. Winners ⊆ the per-host
     * selection, so politeness invariants are untouched. */
    genBudget: Long = 0L,
    saltBuckets: Int = 16,
    filter: HostFilter = HostFilter.NoFilter,
    useRobots: Boolean = true,
    requeueRejects: Boolean = false, // reference OBSERVED behaviour: requeue=false (rmqredis.rs:243-249 bug; SURVEY §7.4)
    maxRetries: Int = 3,
    bloomExpectedItems: Long = 1L << 20,
    bloomFpp: Double = 0.01,
    /** Seen-sketch flavour: "bloom" (partitioned, union-merged, per-shard
     * growable), "cuckoo" (deletion-capable, shards probed in place), or
     * "none" (every candidate takes the exact anti-join). */
    seenSketch: String = "bloom",
    /** Hash buckets of the partitioned seen-sketch. */
    sketchShards: Int = 16,
    /** Hybrid probe switchover: when the bloom sketch's total checkpoint
     * bytes are at or under this, the loop assembles it ONCE from the shard
     * files and probes via the broadcast codegen'd expression (zero extra
     * shuffle, stays inside whole-stage codegen); above it — or for cuckoo —
     * candidates route to the shard partitions (no sketch bytes move). 64 MB
     * default: well under executor/driver headroom, far above any sketch
     * that would make the routed shuffle noticeable. */
    sketchBroadcastMaxBytes: Long = 64L << 20,
    /** fetch-generation → host substrings whose seen entries are RETRACTED
     * at the start of that generation (retro-blacklist purge): removed from
     * the seen table and deleted from a cuckoo sketch, so rediscovered URLs
     * become re-crawlable. */
    retractHosts: Map[Int, Seq[String]] = Map.empty,
    fetchMode: FetchMode = FetchMode.CorpusJoin,
    /** Carry `host` through the global dedup shuffle (true) or re-derive it
     * after dedup by char-scan (false). Carrying is ~15% faster on a single
     * box (tmpfs shuffle ≈ memcpy); re-deriving cuts ~25% of shuffle BYTES —
     * the right trade on a network-shuffled cluster. Results identical
     * (golden-tested both ways). */
    carryHostThroughDedup: Boolean = true,
    /** Compact the `seen` delta log whenever it exceeds this many segments
     * (0 = never). Log-structured maintenance: at 10^10 URLs an unbounded
     * delta list would make every anti-join open thousands of directories. */
    seenCompactEvery: Int = 16,
    /** Archive fetched page payloads (url + span sequence) into a durable
     * per-generation `archive` table — the reference's non-default archive
     * path made real (archive/rmq.rs:29-43 publishes payload bytes; the
     * default Void archive, void.rs:7-11, remains `false`). All three fetch
     * modes supported; in Http mode the spans are parsed INSIDE the fetch
     * partition (Extract.spansFromHtml), so the raw body still never leaves
     * it. */
    archiveFetched: Boolean = false,
    /** Http-mode robots cache TTL in generations (0 = never expire, the
     * prior behavior). A cached robots answer fetched at generation g is
     * honored through generation g + ttl - 1 and re-fetched at g + ttl —
     * bounded staleness for long crawls (a site that tightens its
     * Disallow rules is obeyed within ttl generations, instead of never).
     * At most one answer per host is live at any generation (the windows
     * are disjoint by construction), so the cache needs no per-host dedup.
     * An updated Crawl-delay takes effect the generation AFTER the
     * re-check, exactly like a newly met host's. */
    robotsTtlGens: Int = 0
)

/** Output of one BSP generation (SURVEY.md §3.4). All DataFrames are lazy. */
final case class StepResult(
    /** Task rows for gen+1: newly discovered ∪ politeness-deferred ∪ requeued rejects. */
    nextFrontier: DataFrame,
    /** Newly discovered canonical URLs (⊆ nextFrontier) — the seen-set delta. */
    discovered: DataFrame,
    /** (gen, url, outcome, error_kind) for every fetch attempted this gen. */
    outcomes: DataFrame,
    /** Fetched payloads (doc_id, spans) when cfg.archiveFetched (S7). */
    archive: Option[DataFrame] = None,
    /** Per-stage row counts (A1/A2), populated once an action evaluates the
     * pipeline: extracted links, post-dedup candidates, post-filter allowed.
     * The observations ride the main job — no extra scans. */
    stageObservations: Map[String, org.apache.spark.sql.Observation] = Map.empty,
    /** (host, next_fetch) — earliest generation each crawl-delayed host may
     * fetch again; None when the delay feature is inactive. The caller
     * persists it per generation and feeds it back as `priorHostNext`. */
    hostNext: Option[DataFrame] = None,
    /** (host, disallows, delay) — robots rules fetched over the wire THIS
     * generation (Http mode, cache misses only). The caller appends them to
     * the durable robots cache and feeds the union back as `robotsCache`. */
    newRobots: Option[DataFrame] = None,
    /** Every frame `step` persisted — the caller unpersists EXACTLY these
     * once the generation is committed. (A session-wide
     * `spark.catalog.clearCache()` would silently evict any tables the
     * CALLER cached alongside the crawl.) */
    persisted: Seq[DataFrame] = Nil
)

/**
 * One generation of the BSP frontier pipeline — the declarative re-expression
 * of the reference's task-resolution loop (worker/src/worker.rs:58-172):
 *
 *   frontier(g) ─ politeness top-k per host (O1)
 *     ─ fetch = equi-join against the corpus table (S5; the HTTP `mapPartitions`
 *       fetcher is the production path, `HttpFetcher`)
 *     ─ explode link spans + resolve + scheme filter (P1-P3)
 *     ─ canonicalize (P4-P6) + per-gen dedup (P7)
 *     ─ white/blacklist (F2/F3) + robots (north_rule)
 *     ─ bloom-prefiltered LEFT ANTI join vs `seen` (J1)
 *     ─ outcome routing (O2): ok / err / reject
 *
 * Everything before the two shuffles (per-host window; anti-join on url) is
 * narrow and stays inside whole-stage codegen except the four pure URL UDFs.
 */
object FrontierStep {

  /** Canonical seed tasks at gen 0 (deterministic priority from url hash). */
  def seedFrontier(spark: SparkSession, urls: Seq[String]): DataFrame = {
    import spark.implicits._
    urls.flatMap(UrlCanon.canonicalize)
      .distinct
      .map(u => (u, UrlCanon.hostOf(u), 0, 0L, 0, 0))
      .toDF("url", "host", "priority", "next_fetch", "retry_count", "gen")
  }

  def step(
      spark: SparkSession,
      frontier: DataFrame,       // Task schema, all rows at generation g
      seen: DataFrame,           // single column `url`
      prefilter: SeenPrefilter,
      docs: Dataset[Document],
      cfg: CrawlConfig,
      gen: Int,
      /** (host, delay) — robots Crawl-delay per host in politeness windows;
       * None disables delay handling (zero plan overhead). */
      delays: Option[DataFrame] = None,
      /** (host, next_fetch) carried from the previous generation — stamps
       * NEW tasks of hosts whose delay window is still open (their existing
       * tasks already carry the stamp; a brand-new link to the same host
       * must not sneak in early). */
      priorHostNext: Option[DataFrame] = None,
      /** (host, disallows, delay) robots cache accumulated over previous
       * generations (Http mode): only cache-miss hosts get a robots.txt GET
       * this generation — at 10^6 hosts the cache saves 10^6 RTTs/gen. */
      robotsCache: Option[DataFrame] = None): StepResult = {
    import spark.implicits._

    // every frame this step persists, returned via StepResult.persisted so
    // the caller can unpersist exactly these after the commit fence
    val persistedFrames = Seq.newBuilder[DataFrame]

    // --- O1: politeness priority-queue cap, skew-salted, delay-aware ----------
    val delaysActive = delays.isDefined || priorHostNext.isDefined
    val polMarked = if (!delaysActive)
        Politeness.markTopKPerHost(frontier, cfg.perHostCap, cfg.saltBuckets)
      else
        Politeness.markEligibleTopK(frontier, cfg.perHostCap, cfg.saltBuckets,
          gen.toLong, delays)
    val marked = (if (cfg.genBudget > 0) {
        // capGlobalBudget runs an immediate counts job over the selected
        // rows — persist the politeness result first so the demote pass and
        // the unselected branch read it back instead of re-ranking
        val pm = polMarked.persist()
        persistedFrames += pm
        Politeness.capGlobalBudget(pm, cfg.genBudget)
      } else polMarked)
      .persist()
    persistedFrames += marked
    // Skew-break (north_rule "skewed-host salting to break hot-domain
    // partitions"): the politeness window leaves rows HOST-partitioned, so a
    // Zipf-head host would put its whole fetch+extract fan-out in one task.
    // Rebalance by url hash before the expensive per-page work. The partition
    // count is EXPLICIT: AQE would coalesce by map-output size, blind to the
    // ~12× link fan-out and per-page fetch cost downstream.
    val fetchParts = spark.sparkContext.defaultParallelism * 3
    val fetchable = marked.filter(col("selected")).drop("selected")
      .repartition(fetchParts, col("url"))
    val deferred = marked.filter(!col("selected")).drop("selected")

    // --- S5: fetch (reference downloader.rs:26-41) ----------------------------
    // Two physical strategies with identical semantics (golden-tested equal):
    //  - CorpusJoin: equi-join against the documents table ("the mock internet"
    //    as data). Broadcast never applies at web scale (corpus = the web) ⇒
    //    shuffle join on url; the joined rows (with spans) are persisted since
    //    recomputing the join is expensive.
    //  - Generator: narrow per-row fetch — the dataflow shape of the
    //    production mapPartitions HTTP path (HttpFetcher): cost ∝ selected
    //    tasks, zero shuffle. Outcome classification is split from span
    //    generation so the outcomes branch never materialises spans and
    //    NOTHING span-heavy is ever cached (spans exist only inside the ok
    //    branch of the link pipeline).
    // Missing pages classify 404 (Err) vs unreachable (Reject) via the pure
    // resolver (reference error mapping errors.rs:89-183).
    val corpusCfg = cfg.corpus
    val classify = udf((url: String) => CorpusGen.resolvePage(corpusCfg, url) match {
      case CorpusGen.PageLookup.Found(_, _) => Outcome.Ok
      case CorpusGen.PageLookup.NotFound    => Outcome.Err
      case CorpusGen.PageLookup.Unreachable => Outcome.Reject
    })
    val fetched = cfg.fetchMode match {
      case FetchMode.CorpusJoin =>
        fetchable
          .join(docs.toDF("doc_id", "spans"), fetchable("url") === col("doc_id"), "left")
          .withColumn("outcome",
            when(col("doc_id").isNotNull, Outcome.Ok).otherwise(classify(col("url"))))
          .persist()
      case FetchMode.Generator =>
        // PERSISTED like the other two modes (r6): the outcomes branch, the
        // link pipeline and (in the loop) the next-frontier write each run
        // as separate actions over this frame — unpersisted, every action
        // re-paid the politeness-output repartition AND the per-row
        // classification (measured ~3.3 s of the steady-state bench's two
        // actions). The Generator frame is narrow (task columns + outcome,
        // no spans), so the cache is cheap; span-heavy data still never
        // caches in this mode.
        fetchable.withColumn("outcome", classify(col("url"))).persist()
      case http: FetchMode.Http =>
        // production shape: fetch + extract + normalise as ONE mapPartitions
        // (fetchHttp); the page body never leaves the partition — only the
        // per-page-deduped canonical (url, host) pairs, the outcome, and
        // (when archiving) the parsed span sequence do. PERSISTED: the
        // outcomes / links / rejects branches must not re-fetch the network.
        val doArchive = cfg.archiveFetched
        fetchable
          .select("url", "host", "priority", "next_fetch", "retry_count", "gen")
          .as[Task]
          .mapPartitions(it => fetchHttp(it, http, doArchive).map { case (tk, pg) =>
            (tk.url, tk.host, tk.priority, tk.next_fetch, tk.retry_count, tk.gen,
              pg.outcome, pg.links, pg.spans, pg.parseCov)
          })
          .toDF("url", "host", "priority", "next_fetch", "retry_count", "gen",
            "outcome", "links", "spans", "parse_cov")
          .persist()
    }

    persistedFrames += fetched // all three modes persist the fetch frame

    // --- S7 (non-default): durable archive of fetched payloads ----------------
    val archive: Option[DataFrame] =
      if (!cfg.archiveFetched) None
      else cfg.fetchMode match {
        case FetchMode.CorpusJoin =>
          Some(fetched.filter(col("outcome") === Outcome.Ok)
            .select(col("url").as("doc_id"), col("spans")))
        case FetchMode.Generator =>
          Some(fetched.filter(col("outcome") === Outcome.Ok).select("url").as[String]
            .mapPartitions { it =>
              it.flatMap(u => CorpusGen.resolvePage(corpusCfg, u) match {
                case CorpusGen.PageLookup.Found(h, p) =>
                  Iterator.single(CorpusGen.pageDoc(corpusCfg, h, p))
                case _ => Iterator.empty
              })
            }.toDF())
        case _: FetchMode.Http =>
          // spans were parsed inside the fetch partition (body never left it);
          // parse_cov flags pages whose markup escaped the corpus-shape scan
          Some(fetched.filter(col("outcome") === Outcome.Ok)
            .select(col("url").as("doc_id"), col("spans"), col("parse_cov")))
      }

    val outcomes = fetched.select(lit(gen).as("gen"), col("url"), col("outcome"),
      when(col("outcome") === Outcome.Ok, lit(""))
        .when(col("outcome") === Outcome.Err, lit("InvalidPage"))
        .otherwise(lit("NetworkError")).as("error_kind"))

    // --- P1-P6: link spans → resolved, canonical, hosted candidates.
    // Fused resolve+canonicalize+host UDF: one URL parse per link instead of
    // three — the per-link hot path is allocation-bound at scale.
    // The link streams emit (url, host) or canonical url only, per
    // cfg.carryHostThroughDedup (shuffle-bytes vs recompute trade, see flag).
    val carryHost = cfg.carryHostThroughDedup
    val okPages = fetched.filter(col("outcome") === Outcome.Ok)
    val pairs = cfg.fetchMode match {
      case FetchMode.CorpusJoin =>
        // the durable span table: links are kind='link' spans
        spanLinks(okPages.select(col("url").as("base_url"), col("spans")))
      case FetchMode.Generator =>
        // inline fetch+extract+normalise as ONE typed mapPartitions — the
        // production HTTP path's shape (SURVEY S5; the reference worker runs
        // fetch→extract→normalise per task, worker.rs:70-119). One row
        // crossing per candidate instead of three UDF boundaries + explode;
        // within-page dedup shrinks the global dedup shuffle.
        okPages.select("url").as[String]
          .mapPartitions(_.flatMap(corpusCandidates(corpusCfg, _)))
          .toDF("url", "host")
      case _: FetchMode.Http =>
        // links already extracted + canonicalized + page-deduped in the fetch pass
        okPages.select(explode(col("links")).as("l"))
          .select(col("l._1").as("url"), col("l._2").as("host"))
    }
    val links = if (carryHost) pairs.select("url", "host") else pairs.select("url")

    // --- P7: per-generation dedup (map-side partial via AQE + shuffle) -------
    val obsLinks = new org.apache.spark.sql.Observation(s"links_g$gen")
    val hostOfCanon = udf((u: String) => UrlCanon.hostOfCanonical(u))
    val deduped = links.observe(obsLinks, count(lit(1)).as("n"))
      .dropDuplicates("url")
    val candidates =
      if (carryHost) deduped
      else deduped.withColumn("host", hostOfCanon(col("url"))) // re-derived post-dedup
    val obsCandidates = new org.apache.spark.sql.Observation(s"candidates_g$gen")
    val candidatesObs = candidates.observe(obsCandidates, count(lit(1)).as("n"))

    // --- F2/F3 + robots -------------------------------------------------------
    val obsAllowed = new org.apache.spark.sql.Observation(s"allowed_g$gen")
    val hostFiltered = filterHosts(candidatesObs, cfg.filter)
    var newRobotsOut: Option[DataFrame] = None
    val robotsFiltered =
      if (!cfg.useRobots) hostFiltered
      else cfg.fetchMode match {
        case FetchMode.Http(rewrite, cTo, rTo, window, _) =>
          // REAL robots over the wire, cached across generations: only hosts
          // missing from the durable robots cache get a GET this generation,
          // and only hosts that SURVIVED the white/blacklist — the crawler
          // never contacts a host it is configured to avoid. Missing/
          // unreachable robots ⇒ allow-all (standard lenient behaviour),
          // cached as such so the 404 is also paid once.
          val rw = rewrite
          val hostsNeeded = hostFiltered.select("host").distinct()
          val missingHosts = robotsCache match {
            case Some(c) => hostsNeeded.join(c.select("host"), Seq("host"), "left_anti")
            case None    => hostsNeeded
          }
          val fetchedRules = FrontierStep.fetchRobotsRules(missingHosts.as[String], rw, cTo, rTo, window)
            .persist() // read twice: the filter join below + the cache append
          persistedFrames += fetchedRules
          // only DEFINITIVE answers enter the durable cache — a transient
          // robots failure (outcome Reject ⇒ definitive=false) is allow-all
          // for this generation only and re-fetched next generation
          newRobotsOut = Some(
            fetchedRules.filter(col("definitive")).drop("definitive"))
          // rules relevant THIS generation: the cache rows for needed hosts
          // (semi-join prune) plus ALL fresh fetches, transient included.
          // Explicit projection: cache rows carry fetched_gen (TTL bookkeeping,
          // CrawlLoop) which the rules join doesn't want
          val rules = (robotsCache
              .map(_.select("host", "disallows", "delay")
                .join(hostsNeeded, Seq("host"), "left_semi")).toSeq :+
              fetchedRules.drop("definitive"))
            .reduce(_ unionByName _)
          val robotsAllowed = udf((ds: Seq[String], url: String) =>
            Robots.allowed(if (ds == null) Nil else ds, url))
          // no broadcast hint: the rules side is semi-join-pruned to this
          // generation's candidate hosts, but that set is UNBOUNDED (the
          // politeness cap bounds per-host fetches, not distinct candidate
          // hosts) — at 10^6+ hosts/gen with disallow arrays a forced
          // broadcast is a driver/executor memory risk. AQE picks broadcast
          // by measured size at small host counts, shuffle join otherwise.
          hostFiltered.join(rules.select("host", "disallows"), Seq("host"), "left")
            .filter(robotsAllowed(col("disallows"), col("url")))
            .drop("disallows")
        case _ => corpusRobotsFilter(hostFiltered, corpusCfg)
      }
    val allowed = robotsFiltered.observe(obsAllowed, count(lit(1)).as("n"))

    // --- J1: cull_known — sketch-prefiltered exact anti-join ------------------
    // "maybe seen" rows take the exact LEFT ANTI join; "definitely new" rows
    // skip it (a sketch FP costs a probe, never a URL — SURVEY §7.3).
    val discoveredUrls = prefilter match {
      case SeenPrefilter.Off =>
        allowed.join(seen, Seq("url"), "left_anti")
      case pf =>
        val tagged = pf.tag(allowed).persist()
        persistedFrames += tagged
        val definitelyNew = tagged.filter(!col("_maybe")).drop("_maybe")
        val maybeSeen = tagged.filter(col("_maybe")).drop("_maybe")
        definitelyNew.unionByName(
          maybeSeen.join(seen, Seq("url"), "left_anti"))
    }

    val discovered = discoveredUrls.select("url", "host").persist()
    persistedFrames += discovered

    // --- O2: outcome routing — requeue rejects (documented semantics, flagged)
    val rejects =
      if (cfg.requeueRejects)
        fetched.filter(col("outcome") === Outcome.Reject && col("retry_count") < cfg.maxRetries)
          .select(col("url"), col("host"), col("priority"),
            col("next_fetch"), (col("retry_count") + 1).as("retry_count"),
            lit(gen + 1).as("gen"))
      else spark.emptyDataFrame

    // priority via the engine's own pure hash so the sequential golden oracle
    // (plain Scala, no Spark) computes byte-identical values
    val prioUdf = udf((u: String) => FrontierStep.priorityOf(u))
    val newTasks = discovered.select(
      col("url"), col("host"),
      prioUdf(col("url")).as("priority"),
      lit(0L).as("next_fetch"), lit(0).as("retry_count"), lit(gen + 1).as("gen"))

    val carried = deferred.select(col("url"), col("host"), col("priority"),
      col("next_fetch"), col("retry_count"), col("gen"))

    val nextFrontierRaw =
      if (cfg.requeueRejects) newTasks.unionByName(carried).unionByName(rejects)
      else newTasks.unionByName(carried)

    // --- crawl-delay bookkeeping (north_rule "per-host politeness delays"):
    // hosts fetched this generation with Crawl-delay d may not fetch again
    // before gen + d. The host-level state (tiny: one row per delayed host
    // with an open window) is authoritative for NEW tasks; every task row in
    // the next frontier gets next_fetch = max(own, host window) in ONE
    // host-keyed join — the optimizer broadcasts the small side.
    val hostNextUpdated: Option[DataFrame] = {
      val fetchedDelayed = delays.map { d =>
        marked.filter(col("selected")).select("host").distinct()
          .join(d.select(col("host"), col("delay")), Seq("host"))
          .select(col("host"),
            (lit(gen.toLong) + col("delay").cast("long")).as("next_fetch"))
      }
      val stillOpen = priorHostNext.map(_.filter(col("next_fetch") > gen.toLong))
      (stillOpen.toSeq ++ fetchedDelayed.toSeq).reduceOption(_ unionByName _)
        .map(_.groupBy("host").agg(max("next_fetch").as("next_fetch")))
    }
    val nextFrontier = hostNextUpdated match {
      case None => nextFrontierRaw
      case Some(hn) =>
        nextFrontierRaw
          .join(hn.withColumnRenamed("next_fetch", "_hnf"), Seq("host"), "left")
          .withColumn("next_fetch",
            greatest(col("next_fetch"), coalesce(col("_hnf"), lit(0L))))
          .drop("_hnf")
    }

    StepResult(nextFrontier, discovered, outcomes, archive,
      Map("links" -> obsLinks, "candidates" -> obsCandidates, "allowed" -> obsAllowed),
      hostNext = hostNextUpdated, newRobots = newRobotsOut,
      persisted = persistedFrames.result())
  }

  /** Deterministic task priority ∈ [0,10) — pure, shared with the oracle. */
  def priorityOf(url: String): Int =
    Math.floorMod(BloomSketch.hash(url, 0x70726fL), 10L).toInt

  // --- per-task kernels shared by the batch step and the streaming surface --

  /** Corpus-backed fetch + extract of one task URL (Generator mode): the
   * page's candidates (Extract.pageCandidates); nothing for a missing page. */
  def corpusCandidates(corpus: CorpusConfig, url: String): Iterator[(String, String)] =
    CorpusGen.resolvePage(corpus, url) match {
      case CorpusGen.PageLookup.Found(h, p) =>
        Extract.pageCandidates(url, CorpusGen.pageHrefs(corpus, h, p))
      case _ => Iterator.empty
    }

  /** Http fetch + extract of one partition's tasks: one pooled client per
   * executor (downloader.rs:13-21), up to `fetchWindow` requests pipelined
   * in flight (FetchMode.Http scaladoc), each response classified by
   * `extractPage`. Output is in task order. */
  def fetchHttp(tasks: Iterator[Task], mode: FetchMode.Http,
      withSpans: Boolean): Iterator[(Task, FetchedPage)] = {
    lazy val client = HttpFetcher.sharedClient(mode.connectTimeoutMs)
    HttpFetcher.fetchWindowed(client, tasks, (tk: Task) => mode.rewrite(tk.url),
        mode.requestTimeoutMs, mode.fetchWindow, mode.maxBodyBytes)
      .map { case (tk, r) => (tk, extractPage(tk.url, r, withSpans)) }
  }

  /** One fetch response → page: a non-Ok fetch keeps its outcome; an Ok
   * body that is not valid UTF-8 is the reference's Parsing error
   * (errors.rs:122-140) ⇒ Err/InvalidPage; otherwise ONE tokenizer pass
   * yields hrefs (+ spans and coverage when `withSpans`, the archive parse,
   * archive/rmq.rs:29-43 analogue) and the hrefs run the candidate kernel.
   * An Ok page keeps the fetch's error kind (`Truncated` at the body cap). */
  private def extractPage(base: String, r: FetchResult, withSpans: Boolean): FetchedPage =
    if (r.outcome != Outcome.Ok) FetchedPage(r.outcome, r.error_kind, Nil, Nil, 0.0)
    else UrlCanon.decodeUtf8(r.body) match {
      case None => FetchedPage(Outcome.Err, "InvalidPage", Nil, Nil, 0.0)
      case Some(html) =>
        val (hrefs, spans, cov) = Extract.parsePage(html, withSpans)
        FetchedPage(Outcome.Ok, r.error_kind,
          Extract.pageCandidates(base, hrefs).toSeq, spans, cov)
    }

  /** P1-P6 over span-model pages: the link spans of each (base_url, spans)
   * row → (base_url, url, host) through the fused single-parse
   * resolve+canonicalize+host UDF; unresolvable, non-http(s) and host-less
   * links are dropped. */
  def spanLinks(pages: DataFrame): DataFrame =
    pages
      .select(col("base_url"),
        explode(filter(col("spans"), s => s.getField("kind") === Span.Link)).as("span"))
      .select(col("base_url"),
        UrlFunctions.resolveCanonHost(col("base_url"), col("span.media_ref")).as("rch"))
      .filter(col("rch").isNotNull)
      .select(col("base_url"), col("rch._1").as("url"), col("rch._2").as("host"))

  /** F2/F3 white/blacklist on a frame with a `host` column. NoFilter keeps
   * everything, so it costs no per-row UDF round-trip (the common setting). */
  def filterHosts(df: DataFrame, hostFilter: HostFilter): DataFrame =
    if (hostFilter == HostFilter.NoFilter) df
    else {
      val keep = udf((h: String) => hostFilter.keep(if (h == null) "" else h))
      df.filter(keep(col("host")))
    }

  /** Robots on (url, host) rows in the corpus modes: rules derived PER ROW
   * from the deterministic corpus (a modulo on the parsed host index). The
   * previous form — robotsTable → driver groupBy map → broadcast — cost
   * ~12 s of serial driver wall per generation at 4.8M hosts (SizeEstimator
   * + java-serialize + lz4 of a numHosts-sized HashMap, jstack-measured),
   * paid identically at every cluster size (and again per streaming
   * restart). Deriving at the row is free and scales with executors. */
  def corpusRobotsFilter(df: DataFrame, corpus: CorpusConfig): DataFrame = {
    val robotsOk = udf((host: String, url: String) =>
      Robots.allowed(CorpusGen.robotsForHostName(corpus, host), url))
    df.filter(robotsOk(col("host"), col("url")))
  }

  /** GET + parse `/robots.txt` for each host (pooled client per partition).
   * Returns (host, disallows, delay, definitive). Used per generation for
   * cache-miss candidate hosts AND at bootstrap for the seed hosts — without
   * the bootstrap fetch, generation 1's politeness would select seed-host
   * URLs delay-blind at the full per-host cap (the cache is only appended
   * AFTER a generation's fetches).
   *
   * `definitive` separates answers the host actually gave from answers the
   * NETWORK gave: a 200 parse or an HTTP error status (404 ⇒ allow-all, the
   * standard lenient reading) is the host's answer and safe to cache
   * forever; a connect/timeout/5xx-free transport failure (outcome Reject)
   * says nothing about the host's rules. Transient failures still act as
   * allow-all for THIS generation (the reference fetches robots per task and
   * is equally blind during a blip, worker.rs:90-104) but callers must NOT
   * cache them — a cached blip would permanently erase the host's Disallow
   * rules and Crawl-delay, since cached hosts are never re-fetched. */
  def fetchRobotsRules(hosts: org.apache.spark.sql.Dataset[String],
      rewrite: String => String, connectTimeoutMs: Int,
      requestTimeoutMs: Int, window: Int = 16): DataFrame = {
    val spark = hosts.sparkSession
    import spark.implicits._
    hosts.mapPartitions { it =>
      lazy val client = HttpFetcher.sharedClient(connectTimeoutMs)
      HttpFetcher.fetchWindowed(
          client, it, (h: String) => rewrite(s"http://$h/robots.txt"),
          requestTimeoutMs, window,
          // robots bodies cap at the conventional 512 KiB (parse the prefix)
          HttpFetcher.RobotsMaxBodyBytes)
        .map { case (h, r) =>
          val rules =
            if (r.outcome != Outcome.Ok) graft.core.RobotsRules.allowAll
            else UrlCanon.decodeUtf8(r.body)
              .map(graft.core.RobotsRules.parse)
              .getOrElse(graft.core.RobotsRules.allowAll)
          (h, rules.disallows, rules.crawlDelay.getOrElse(0),
            r.outcome != Outcome.Reject)
        }
    }.toDF("host", "disallows", "delay", "definitive")
  }
}
