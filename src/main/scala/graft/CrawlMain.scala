package graft

import graft.corpus.{CorpusConfig, CorpusGen}
import graft.loop.CrawlLoop
import graft.operators.CrawlConfig
import graft.plans.TableIO
import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry for the BSP crawl (north_rule: "run via spark-submit
 * ... at two cluster sizes"). Local sandbox: parallelism via SPARK_GRAFT_CPUS.
 *
 * Usage: CrawlMain <workDir> [numHosts] [maxPages] [perHostCap] [maxGens] [seeds] [join|gen|http]
 *                  [--seeds-file=FILE]  (http mode: one ABSOLUTE seed URL per
 *                  line — the real-web entry; corpus sizing args are ignored
 *                  for fetching, only the politeness/sketch args apply.
 *                  robots.txt is fetched over the wire per host, once ever.)
 *                  [--whitelist=FILE] [--blacklist=FILE] [--sketch=bloom|cuckoo|none] [--archive]
 *                  [--delay-every=N]  (every Nth corpus host declares a robots
 *                  Crawl-delay of 2-4 politeness windows; 0/absent = none)
 *                  [--sketch-bc-max=BYTES]  (hybrid probe switchover: bloom
 *                  sketches at or under BYTES broadcast + probe via the
 *                  codegen expression, larger ones take the routed shard
 *                  probe; 0 forces routed — default 64 MiB)
 *                  [--fetch-window=N]  (http mode: async requests in flight
 *                  per fetch partition — the latency-bound throughput knob;
 *                  per-host concurrency stays ≤ perHostCap cluster-wide.
 *                  1 = strictly sequential; default 16)
 *                  [--gen-budget=N]  (global fetches-per-generation cap —
 *                  exact distributed top-N across hosts; over-budget tasks
 *                  defer and re-compete; 0 = unlimited, reference parity)
 *                  [--robots-ttl-gens=N]  (http mode: re-fetch a host's
 *                  robots.txt N generations after its last answer — bounded
 *                  staleness for long crawls; 0/absent = cache forever, the
 *                  prior behavior)
 *                  [--max-body-bytes=N]  (http mode: page bodies read at most
 *                  N bytes; a longer body truncates at the cap and is
 *                  parsed as that prefix (outcome ok — this job's outcomes
 *                  table derives error_kind from the outcome; only the
 *                  streaming outcome feed marks error_kind=Truncated) —
 *                  bounds executor memory against huge/hostile responses;
 *                  robots.txt always caps at 512 KiB. 0 = unbounded, the
 *                  reference's exact read_to_end behavior. Default 16 MiB)
 *                  [--carry-host=true|false]  (carry `host` through the global
 *                  dedup shuffle, or re-derive it after by char-scan. Default
 *                  true — ~15% faster when shuffle ≈ memcpy (single box,
 *                  tmpfs). On a NETWORK-shuffled cluster set false: −25%
 *                  shuffle bytes at equal throughput, measured across JVMs in
 *                  BENCH.md §2e. Results identical, golden-tested both ways.)
 * Filter-list files: one host substring per line, trimmed, blanks dropped
 * (reference filter.rs:93-105); an EMPTY file — the reference ships empty
 * lists, filtering defaults off (main.rs:182-188) — yields NoFilter.
 * Resumable: re-running with the same workDir continues from the last
 * committed generation.
 */
object CrawlMain {
  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    def flag(name: String): Option[String] =
      flags.collectFirst { case f if f.startsWith(s"--$name=") => f.drop(name.length + 3) }
    val workDir = if (pos.length > 0) pos(0) else "/tmp/graft-crawl"
    val numHosts = if (pos.length > 1) pos(1).toInt else 200
    val maxPages = if (pos.length > 2) pos(2).toInt else 400
    val perHostCap = if (pos.length > 3) pos(3).toInt else 5
    val maxGens = if (pos.length > 4) pos(4).toInt else 30
    val nSeeds = if (pos.length > 5) pos(5).toInt else 5
    val fetchMode = pos.lift(6) match {
      case Some("gen")  => graft.operators.FetchMode.Generator
      case Some("http") => graft.operators.FetchMode.Http( // identity rewrite: the real web
        fetchWindow = flag("fetch-window").map(_.toInt).getOrElse(16),
        maxBodyBytes = flag("max-body-bytes").map(_.toLong)
          .getOrElse(graft.sources.HttpFetcher.DefaultMaxBodyBytes))
      case _            => graft.operators.FetchMode.CorpusJoin
    }

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val builder = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .appName("graft-crawl")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", sys.env.getOrElse("SPARK_LOCAL_DIRS", "/dev/shm/graft-spark"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // survive stalls >120 s in local mode (see SparkSuite note)
      .config("spark.storage.blockManagerHeartbeatTimeoutMs", "600000")
    // extra confs for experiments: SPARK_GRAFT_CONF="k=v;k2=v2"
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); builder.config(k, v) })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // S8 filter-list scan: file → trimmed substrings → filter; empty ⇒ NoFilter
    def loadList(path: String): Seq[String] =
      graft.core.HostFilter.parseList(
        spark.read.textFile(path).collect().toSeq) // lists are tiny (filter.rs:93-105)
    val hostFilter: graft.core.HostFilter =
      (flag("whitelist").map(loadList), flag("blacklist").map(loadList)) match {
        case (Some(w), _) if w.nonEmpty => graft.core.HostFilter.Whitelist(w)
        case (_, Some(b)) if b.nonEmpty => graft.core.HostFilter.Blacklist(b)
        case _ => graft.core.HostFilter.NoFilter
      }

    val cfg = CrawlConfig(
      corpus = CorpusConfig(numHosts = numHosts, maxPages = maxPages,
        delayEveryNthHost = flag("delay-every").map(_.toInt).getOrElse(0)),
      perHostCap = perHostCap, fetchMode = fetchMode,
      filter = hostFilter,
      seenSketch = flag("sketch").getOrElse("bloom"),
      archiveFetched = flags.contains("--archive"),
      sketchBroadcastMaxBytes =
        flag("sketch-bc-max").map(_.toLong).getOrElse(64L << 20),
      carryHostThroughDedup = flag("carry-host").forall(_.toBoolean),
      robotsTtlGens = flag("robots-ttl-gens").map(_.toInt).getOrElse(0),
      genBudget = flag("gen-budget").map(_.toLong).getOrElse(0L),
      bloomExpectedItems = 1L << 22)
    val io = new TableIO(workDir)
    // http mode crawls REAL urls: seeds come from --seeds-file (one absolute
    // URL per line), not from the synthetic corpus namespace
    val seeds: Seq[String] = flag("seeds-file") match {
      case Some(f) => spark.read.textFile(f).collect().toSeq
        .map(_.trim).filter(s => s.nonEmpty && !s.startsWith("#"))
      case None =>
        fetchMode match { // case-class equality is unreliable on the rewrite fn
          case _: graft.operators.FetchMode.Http =>
            sys.error("http mode needs --seeds-file=FILE (one absolute seed URL per line)")
          case _ => ()
        }
        CorpusGen.seeds(cfg.corpus, nSeeds)
    }
    val t0 = System.nanoTime()
    val res = CrawlLoop.run(spark, io, seeds, cfg, maxGens)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val fetched = res.stats.map(_.fetched).sum
    val discovered = res.stats.map(_.discovered).sum
    res.stats.foreach(s => println(
      s"""gen=${s.gen} frontier=${s.frontierRows} fetched=${s.fetched} """ +
      s"""discovered=${s.discovered} ok=${s.okCount} err=${s.errCount} """ +
      s"""reject=${s.rejectCount} wall_ms=${s.wallMs}"""))
    println(s"""{"gens":${res.stats.size},"fetched":$fetched,""" +
      s""""discovered":$discovered,"wall_sec":$wallSec,""" +
      s""""fetch_per_sec":${fetched / math.max(wallSec, 1e-9)},"cpus":"$cpus"}""")
    spark.stop()
  }
}
