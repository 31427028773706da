package crawlbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/**
 * The benchmark's JVM. One run: set up (a Spark session plus an untimed
 * warm-up pass), then run `--seconds` ÷ the workload's nominal pass wall
 * timed passes (at least one), checking every pass against the oracle.
 * The pass count depends only on `--seconds`, so two builds compared at
 * the same run length measure the same work. Untraced runs report the end-to-end metrics; traced runs
 * alternate untraced and traced passes and report the per-layer metrics
 * plus `trace_overhead`. Writes one JSON object to `--out`; `run.py` adds
 * the catalogue's DuckDB comparison and prints the result line.
 *
 * Usage: Main --workload NAME --seed N --seconds S --trace 0|1 --cores N
 *             --work DIR --data DIR --out FILE
 */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // the loopback web's responses are small: without TCP_NODELAY every one
    // waits on Nagle plus the client's delayed ACK
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Workloads.deleteTree(work)
    Files.createDirectories(work)
    val dataDir = Paths.get(a("data")).toAbsolutePath
    val w = Workloads(a("workload"), a("seed").toLong, cores, dataDir)
    val probe = new ProcessProbe

    // --- set-up: process start to a ready session plus the warm-up pass
    val spark = session(cores, work, trace)
    w.warmup(spark, work.resolve("warmup"))
    val setupS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // --- timed passes
    val tracing = if (trace) Some(new Tracing(spark)) else None
    val plain = Vector.newBuilder[PassOut]
    val traced = Vector.newBuilder[(PassOut, Map[String, Double])]
    var check = CheckResult(0, 0, Nil)
    var walls = Vector.empty[Double]
    var i = 0
    // traced runs alternate untraced, traced, untraced, ... and have at
    // least one traced pass between two untraced ones
    val passes = math.max(if (trace) 3 else 1, (seconds / w.nominalPassS).toInt)
    while (i < passes) {
      val dir = work.resolve(s"pass$i")
      val withTrace = trace && i % 2 == 1
      w match { case h: HttpCrawlWorkload => h.web.resetCounters(); case _ => () }
      val out = w.pass(spark, dir, PassCtx(if (withTrace) tracing else None, probe))
      walls :+= out.wallS
      check = check + w.check(spark, out)
      if (!withTrace) plain += out
      else {
        val t = tracing.get
        val m = w match {
          case cw: CrawlWorkload =>
            val srv = cw match {
              case h: HttpCrawlWorkload =>
                val d = h.web.counters.map(_.toDouble)
                Map("sources.requests" -> d(0), "sources.robots_gets" -> d(1),
                  "sources.connections" -> d(2), "sources.bytes_served_mb" -> d(3) / 1e6,
                  "sources.server_busy_share" -> d(4) / 1e9 / (out.wallS * h.serverThreads))
              case _ => Map.empty[String, Double]
            }
            Layers.crawlPass(spark, t, cw, out, cores) ++ srv
          case cat: CatalogueWorkload => Layers.cataloguePass(t, cat, out)
        }
        traced += ((out, m))
      }
      val prev = work.resolve(s"pass${i - 1}")
      if (i >= 1 && !w.checkDirs.contains(prev)) Workloads.deleteTree(prev)
      i += 1
    }
    System.err.println(s"[crawlbench] setup=$setupS walls=${walls.mkString(",")}")
    val lastDir = work.resolve(s"pass${i - 1}")
    var checkDirs = w.checkDirs
    val plainOut = plain.result()
    val tracedOut = traced.result()

    // --- metrics
    def med(xs: Seq[Double]) = Stats.median(xs)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val steps = plainOut.flatMap(_.stepWallsMs)
        val rep = Stats.highestSupported(steps)
        System.err.println(s"[crawlbench] step wall p${rep.percentile}=${rep.value} ms " +
          s"over ${rep.samples} samples; median ${med(steps)} ms")
        val state = w match {
          case _: CatalogueWorkload => Workloads.dirBytes(lastDir).toDouble
          case _ => med(plainOut.map(_.stateBytes.toDouble))
        }
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", med(plainOut.map(_.wallS)), "s"),
          ("fetch_per_s", med(plainOut.map(o => o.fetched / o.wallS)), "1/s"),
          ("discover_per_s", med(plainOut.map(o => o.discovered / o.wallS)), "1/s"),
          ("gen_wall_p50_ms", med(steps), "ms"),
          ("state_mb", state / 1e6, "MB"),
          ("cpu_s", med(plainOut.map(_.cpuS)), "s"))
      } else {
        val t = tracing.get
        val fromPasses = Layers.names.map { n =>
          n -> med(tracedOut.map(_._2.getOrElse(n, 0.0)))
        }.toMap
        val extra: Map[String, Double] = w match {
          case cw: CrawlWorkload =>
            cw.oracle
            Map("oracle.seq_s" -> cw.oracleSeconds,
              "core.canon_per_s" -> t.tracer.span("core.UrlCanon.resolveCanonHost")(_ => Layers.canonPerS(cw)),
              "operators.politeness_s" -> t.tracer.span("operators.Politeness.markTopKPerHost")(_ =>
                Layers.politenessS(spark, cw, lastDir))) ++ (cw match {
              case h: HttpCrawlWorkload => Map(
                "core.parse_mb_per_s" -> t.tracer.span("core.Extract.parsePage")(_ => Layers.parseMbPerS(h)),
                "sources.fetch_window_per_s" ->
                  t.tracer.span("sources.HttpFetcher.fetchWindowed")(_ => Layers.fetchWindowPerS(h)))
              case _ => Map("corpus.hrefs_per_s" ->
                t.tracer.span("corpus.CorpusGen.pageHrefs")(_ => Layers.hrefsPerS(cw)))
            })
          case _ => Map.empty
        }
        // the SparkEntry layer: every catalogue query once, traced and checked
        val catalogue: Map[String, Double] = w match {
          case cw: CrawlWorkload if cw.catalogueProbe =>
            val cat = new CatalogueWorkload(a("seed").toLong, dataDir)
            val out = cat.pass(spark, work.resolve("catalogue"), PassCtx(tracing, probe))
            check = check + cat.check(spark, out)
            checkDirs ++= cat.checkDirs
            Layers.cataloguePass(t, cat, out).filter(_._1.startsWith("catalogue."))
          case _ => Map.empty
        }
        val overhead = med(tracedOut.map(_._1.wallS)) / med(plainOut.map(_.wallS))
        val heapMb = med(plainOut.map(_.peakHeapBytes.toDouble)) / 1e6
        Files.writeString(Paths.get(a("out")).resolveSibling(s"${w.name}.trace.json"),
          Tracer.toJson(t.finish()), UTF_8)
        Layers.names.map { n =>
          val v = if (n == "trace_overhead") overhead
            else if (n == "peak_heap_mb") heapMb
            else extra.getOrElse(n, catalogue.getOrElse(n, fromPasses(n)))
          (n, v, Layers.units(n))
        }
      }
    w.close()

    val settings = Map(
      "master" -> spark.sparkContext.master,
      "spark.sql.shuffle.partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark.sql.adaptive.enabled" -> spark.conf.get("spark.sql.adaptive.enabled"),
      "spark.local.dir" -> spark.sparkContext.getConf.get("spark.local.dir"),
      "jvm" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(s => s.startsWith("-Xmx") || s.startsWith("-XX:")).mkString(" "),
      "workload" -> s"${w.name} ${w.params}",
      "passes" -> i.toString)
    spark.stop()

    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val json =
      s"""{"correct":${check.failed == 0},"attempted":${check.attempted},""" +
      s""""failed":${check.failed},""" +
      s""""failures":[${check.examples.map(q).mkString(",")}],""" +
      s""""check_dirs":[${checkDirs.map(d => q(d.toString)).mkString(",")}],""" +
      s""""settings":{${settings.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")}},""" +
      s""""metrics":{${metrics.map { case (n, v, u) =>
        s"""${q(n)}:{"value":${v},"unit":${q(u)}}""" }.mkString(",")}}}"""
    Files.writeString(Paths.get(a("out")), json + "\n", UTF_8)
  }

  /** The Spark session every workload runs in. Traced runs swap in the
   * listing-counting local file system (`CountingLocalFs`). */
  def session(cores: Int, work: Path, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("crawlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.storage.blockManagerHeartbeatTimeoutMs", "600000")
    if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
