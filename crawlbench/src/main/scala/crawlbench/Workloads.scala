package crawlbench

import java.nio.file.{Files, Path}

import graft.SparkEntry
import graft.corpus.{CorpusConfig, CorpusGen}
import graft.loop.CrawlLoop
import graft.operators.{CrawlConfig, FetchMode}
import graft.oracle.SeqCrawler
import graft.plans.TableIO
import org.apache.spark.sql.SparkSession

/** One timed pass of a workload: its wall, the end-to-end quantities it
 * produced, and the work directory it left. */
final case class PassOut(wallS: Double, fetched: Long, discovered: Long,
    stepWallsMs: Seq[Double], stateBytes: Long,
    peakHeapBytes: Long, cpuS: Double, dir: Path, traceRun: Long)

/** What one run needs from a workload. `warmup` runs the workload once,
 * untimed (at reduced size where that warms it enough); `pass` is the timed
 * region; `check` compares a pass's committed result with the oracle. */
trait Workload {
  def name: String
  def params: String
  /** Typical warm pass wall on a 4-core machine: a run measures
   * `--seconds` ÷ this passes, rounded down, at least one. */
  def nominalPassS: Double
  def warmup(spark: SparkSession, dir: Path): Unit
  def pass(spark: SparkSession, dir: Path, ctx: PassCtx): PassOut
  def check(spark: SparkSession, out: PassOut): CheckResult
  /** Pass directories holding results that `run.py` still compares. */
  def checkDirs: Seq[Path] = Nil
  def close(): Unit = ()
}

/** Per-pass context: where spans go (None when tracing is off) and the
 * process probe. */
final case class PassCtx(tracing: Option[Tracing], probe: ProcessProbe)

object Workloads {
  def apply(name: String, seed: Long, cores: Int, dataDir: Path): Workload = name match {
    case "frontier_wide" =>
      // every host's front page seeds a few very wide generations. The
      // warm-up is one pass of the same input: after a reduced-size warm-up
      // the first timed pass ran about 15 % slower than the next.
      val cfg = CrawlConfig(
        corpus = CorpusConfig(seed = seed, numHosts = 4000, maxPages = 2000),
        perHostCap = 100, fetchMode = FetchMode.Generator)
      val seeds = (0 until cfg.corpus.numHosts).map(CorpusGen.pageUrl(_, 0))
      new CrawlWorkload(name, cfg, seeds, 2, cfg, seeds, 2, nominalPassS = 8,
        catalogueProbe = true)
    case "crawl_deep" =>
      // many narrow generations: the per-generation fixed cost dominates,
      // and the crawl runs past the seen-compaction threshold
      def cfg(hosts: Int, pages: Int) = CrawlConfig(
        corpus = CorpusConfig(seed = seed, numHosts = hosts, maxPages = pages,
          delayEveryNthHost = 3),
        perHostCap = 5, fetchMode = FetchMode.Generator)
      val main = cfg(1000, 1000)
      val warm = cfg(100, 100)
      new CrawlWorkload(name, main, CorpusGen.seeds(main.corpus, 100), 20,
        warm, CorpusGen.seeds(warm.corpus, 10), 1, nominalPassS = 80)
    case "crawl_http" =>
      // seen and robots compaction every 2 generations, so that a two-generation
      // pass runs the compaction path (the engine default is every 16)
      def cfg(hosts: Int, pages: Int) = CrawlConfig(
        corpus = CorpusConfig(seed = seed, numHosts = hosts, maxPages = pages),
        perHostCap = 20, seenCompactEvery = 2)
      val main = cfg(1000, 1000)
      val warm = cfg(50, 50)
      new HttpCrawlWorkload(main, CorpusGen.seeds(main.corpus, 100), 2,
        warm, CorpusGen.seeds(warm.corpus, 5), 1, cores)
    case "catalogue" => new CatalogueWorkload(seed, dataDir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }
}

/** A Generator-mode crawl: `CrawlLoop.run` from `seeds` for `gens`
 * generations, checked against `SeqCrawler.crawl` on the same config.
 * With `catalogueProbe`, traced runs also time every catalogue query once
 * (the SparkEntry layer's per-layer metrics). */
class CrawlWorkload(val name: String, val cfg: CrawlConfig, val seeds: Seq[String],
    val gens: Int, warmCfg: CrawlConfig, warmSeeds: Seq[String], warmGens: Int,
    val nominalPassS: Double, val catalogueProbe: Boolean = false)
    extends Workload {

  def params: String =
    s"hosts=${cfg.corpus.numHosts} maxPages=${cfg.corpus.maxPages} " +
    s"delayEveryNthHost=${cfg.corpus.delayEveryNthHost} perHostCap=${cfg.perHostCap} " +
    s"seeds=${seeds.size} gens=$gens mode=${modeName(cfg)}"

  private def modeName(c: CrawlConfig) = c.fetchMode match {
    case _: FetchMode.Http => "http"
    case m => m.toString.toLowerCase
  }

  /** Config the crawl actually runs with (Http mode binds the server). */
  protected def runCfg(c: CrawlConfig): CrawlConfig = c

  private var oracleRes: Option[SeqCrawler.OracleResult] = None
  var oracleSeconds: Double = 0.0

  def oracle: SeqCrawler.OracleResult = oracleRes.getOrElse {
    val t0 = System.nanoTime()
    val r = SeqCrawler.crawl(cfg, seeds, gens)
    oracleSeconds = (System.nanoTime() - t0) / 1e9
    oracleRes = Some(r)
    r
  }

  def warmup(spark: SparkSession, dir: Path): Unit =
    CrawlLoop.run(spark, new TableIO(dir.toString), warmSeeds, runCfg(warmCfg), warmGens)

  def pass(spark: SparkSession, dir: Path, ctx: PassCtx): PassOut = {
    val io = new TableIO(dir.toString)
    val c = runCfg(cfg)
    ctx.probe.reset()
    val (res, wall, run) = ctx.tracing match {
      case None =>
        val t0 = System.nanoTime()
        val r = CrawlLoop.run(spark, io, seeds, c, gens)
        (r, (System.nanoTime() - t0) / 1e9, -1L)
      case Some(t) => t.tracedPass(spark, name) { _ =>
        t.layer("loop.CrawlLoop.run")(CrawlLoop.run(spark, io, seeds, c, gens))
      }
    }
    PassOut(wall, res.stats.map(_.fetched).sum, res.stats.map(_.discovered).sum,
      res.stats.map(_.wallMs.toDouble), Workloads.dirBytes(dir),
      ctx.probe.peak, ctx.probe.cpuS, dir, run)
  }

  def check(spark: SparkSession, out: PassOut): CheckResult = {
    val io = new TableIO(out.dir.toString)
    val seen = CrawlLoop.seenWithGen(spark, io).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    val outcomes = CrawlLoop.allOutcomes(spark, io).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    OracleCheck.compareCrawl(seen, outcomes, oracle)
  }
}

/** The production fetch path: `FetchMode.Http` against the simulated web
 * served on loopback by this process. */
final class HttpCrawlWorkload(cfg0: CrawlConfig, seeds0: Seq[String], gens0: Int,
    warmCfg0: CrawlConfig, warmSeeds0: Seq[String], warmGens0: Int, cores: Int)
    extends CrawlWorkload("crawl_http", cfg0.copy(fetchMode = FetchMode.Http()),
      seeds0, gens0, warmCfg0.copy(fetchMode = FetchMode.Http()), warmSeeds0, warmGens0,
      nominalPassS = 17) {

  private val threads = math.max(1, cores)
  lazy val web = new LoopbackWeb(cfg.corpus, threads)
  def serverThreads: Int = threads

  override protected def runCfg(c: CrawlConfig): CrawlConfig =
    if (c.corpus == cfg.corpus) c.copy(fetchMode = FetchMode.Http(web.rewrite))
    else c

  override def warmup(spark: SparkSession, dir: Path): Unit = {
    val warmWeb = new LoopbackWeb(warmCfg0.corpus, threads)
    try CrawlLoop.run(spark, new TableIO(dir.toString), warmSeeds0,
      warmCfg0.copy(fetchMode = FetchMode.Http(warmWeb.rewrite)), warmGens0)
    finally warmWeb.close()
  }

  override def close(): Unit = web.close()
}

/** All `SparkEntry.queries`, back to back over the fixed sf0.01 tables,
 * each result collected to the driver so every column is computed. The
 * seed only shuffles the query order. The warm-up runs every query over
 * the sf0.001 tables, which have the same schemas. After each pass its results are written as
 * parquet, next to each query's oracle SQL, for the DuckDB comparison that
 * `run.py` makes. */
final class CatalogueWorkload(seed: Long, dataDir: Path) extends Workload {
  val name = "catalogue"
  val nominalPassS = 30.0
  private val tables = dataDir.resolve("sf0.01")
  private val warmTables = dataDir.resolve("sf0.001")
  val order: Seq[String] =
    new scala.util.Random(seed).shuffle(SparkEntry.queries.keys.toVector.sorted)
  def params: String = s"queries=${order.size} tables=${tables.getFileName} sink=collect"

  /** Query → seconds and result of the most recent pass; queries that threw. */
  val lastTimes = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private val lastResults = scala.collection.mutable.LinkedHashMap.empty[String,
    (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]
  private val threw = scala.collection.mutable.LinkedHashSet.empty[String]
  private val written = Vector.newBuilder[Path]

  private def runAll(spark: SparkSession, queries: Seq[String], dir: Path,
      tracing: Option[Tracing]): Unit = queries.foreach { q =>
    val t0 = System.nanoTime()
    try {
      val body = () => {
        val df = SparkEntry.queries(q)(spark, dir.toString)
        lastResults(q) = (df.schema, df.collect())
      }
      tracing match {
        case None => body()
        case Some(t) => t.layer(s"SparkEntry.$q")(body())
      }
    } catch { case e: Exception =>
      threw += q
      lastResults.remove(q)
      System.err.println(s"[crawlbench] $q failed: ${e.getMessage}")
    }
    lastTimes(q) = (System.nanoTime() - t0) / 1e9
  }

  def warmup(spark: SparkSession, dir: Path): Unit =
    runAll(spark, order, warmTables, None)

  def pass(spark: SparkSession, dir: Path, ctx: PassCtx): PassOut = {
    ctx.probe.reset()
    val (wall, run) = ctx.tracing match {
      case None =>
        val t0 = System.nanoTime()
        runAll(spark, order, tables, None)
        ((System.nanoTime() - t0) / 1e9, -1L)
      case Some(t) =>
        val (_, w, r) = t.tracedPass(spark, name)(_ => runAll(spark, order, tables, ctx.tracing))
        (w, r)
    }
    PassOut(wall, order.size.toLong, lastResults.values.map(_._2.length.toLong).sum,
      order.map(q => lastTimes(q) * 1000.0), 0L, ctx.probe.peak, ctx.probe.cpuS, dir, run)
  }

  /** Writes the pass's results to `out.dir`. Every query is one operation,
   * counted by the DuckDB comparison: one that threw has no result there. */
  def check(spark: SparkSession, out: PassOut): CheckResult = {
    Files.createDirectories(out.dir)
    lastResults.foreach { case (q, (schema, rows)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(out.dir.resolve(q).toString)
    }
    SparkEntry.oracleSql.foreach { case (q, sql) =>
      Files.writeString(out.dir.resolve(s"$q.sql"), sql, java.nio.charset.StandardCharsets.UTF_8)
    }
    written += out.dir
    CheckResult(0L, 0L, threw.toSeq.take(5))
  }

  override def checkDirs: Seq[Path] = written.result()
}
