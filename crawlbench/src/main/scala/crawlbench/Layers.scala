package crawlbench

import graft.core.{Extract, UrlCanon}
import graft.corpus.CorpusGen
import graft.functions.ShardStore
import graft.loop.CrawlLoop
import graft.operators.Politeness
import graft.plans.TableIO
import graft.sources.HttpFetcher
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Per-layer metrics of traced passes, measured from the benchmark's side:
 * its SparkListener, Hadoop file system statistics, the commit manifests,
 * and timed calls into public functions. Every metric is reported on every
 * workload; a layer a workload does not exercise reads 0. */
object Layers {

  /** Catalogue query names, in the fixed order the metrics are listed. */
  def queryNames: Seq[String] = graft.SparkEntry.queries.keys.toVector.sorted

  val names: Seq[String] = Seq(
    "loop.jobs_per_gen", "loop.stages_per_gen", "loop.tasks_per_gen",
    "loop.driver_gap_ms_p50", "loop.core_busy_share",
    "loop.action.frontier_write_ms", "loop.action.seen_write_ms",
    "loop.action.outcomes_write_ms", "loop.action.sketch_build_ms", "loop.gen_samples",
    "plans.fs_read_ops", "plans.fs_write_ops", "plans.fs_list_ops",
    "plans.bytes_written_mb", "plans.files_per_gen", "plans.compaction_ms",
    "plans.compaction_rows", "plans.seen_segments",
    "operators.links", "operators.candidates", "operators.allowed",
    "operators.dedup_yield", "operators.select_ratio", "operators.task_s",
    "operators.shuffle_write_mb", "operators.shuffle_read_mb", "operators.spill_mb",
    "operators.gc_s", "operators.task_skew", "operators.politeness_s",
    "functions.sketch_build_ms", "functions.sketch_mb", "functions.prefilter_fp_ratio",
    "functions.prefilter_bloom_bc_gens", "functions.prefilter_sharded_gens",
    "sources.requests", "sources.robots_gets", "sources.connections",
    "sources.bytes_served_mb", "sources.server_busy_share", "sources.fetch_window_per_s",
    "core.parse_mb_per_s", "core.canon_per_s", "corpus.hrefs_per_s", "oracle.seq_s") ++
    queryNames.map(q => s"catalogue.${q}_s") ++
    Seq("catalogue.shuffle_mb", "trace_overhead", "peak_heap_mb")

  val units: Map[String, String] = names.map { n =>
    n -> (
      if (n.endsWith("_mb_per_s")) "MB/s"
      else if (n.endsWith("_per_s")) "1/s"
      else if (n.endsWith("_ms") || n.endsWith("_ms_p50")) "ms"
      else if (n.endsWith("_s")) "s"
      else if (n.endsWith("_mb")) "MB"
      else if (n.endsWith("_share") || n.endsWith("_ratio") || n.endsWith("_yield") ||
        n.endsWith("_skew") || n == "trace_overhead") "ratio"
      else "count")
  }.toMap

  private val MB = 1e6

  private def num(re: String, s: String): Long =
    re.r.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)

  /** Label `gen:action` → (gen, action), when it is one. */
  private def genAction(label: String): Option[(Int, String)] = {
    val i = label.indexOf(':')
    if (i <= 0) None
    else label.substring(0, i).toIntOption.map(_ -> label.substring(i + 1))
  }

  /** Spark-side metrics shared by every traced pass. */
  private def sparkSide(t: Tracing, run: Long): Map[String, Double] = {
    val stages = t.passStages(run)
    val widest = if (stages.isEmpty) None else Some(stages.maxBy(_.tasks))
    Map(
      "operators.task_s" -> stages.map(_.runMs).sum / 1e3,
      "operators.shuffle_write_mb" -> stages.map(_.shuffleWriteBytes).sum / MB,
      "operators.shuffle_read_mb" -> stages.map(_.shuffleReadBytes).sum / MB,
      "operators.spill_mb" -> stages.map(_.spillBytes).sum / MB,
      "operators.gc_s" -> stages.map(_.gcMs).sum / 1e3,
      "operators.task_skew" -> widest.filter(_.taskMs.nonEmpty).map { s =>
        val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
        s.taskMs.max / math.max(med, 1.0)
      }.getOrElse(0.0))
  }

  /** Metrics of one traced crawl pass. */
  def crawlPass(spark: SparkSession, t: Tracing, w: CrawlWorkload, out: PassOut,
      cores: Int): Map[String, Double] = {
    val io = new TableIO(out.dir.toString)
    val gens = io.committedGens().filter(_ >= 1)
    val manifests = gens.map(io.readManifest)
    val g = math.max(1, out.stepWallsMs.size).toDouble
    val jobs = t.passJobs(out.traceRun).filterNot(_.endMs.isNaN)
    val stages = t.passStages(out.traceRun)
    val passSpan = t.tracer.spans.find(_.id == out.traceRun).get
    val labelled = jobs.flatMap(j => genAction(j.label).map(ga => (ga._1, ga._2, j)))

    // per generation: window from the previous generation's last job end
    // (the pass start for the first) to this generation's last job end
    val ends = labelled.groupBy(_._1).view.mapValues(_.map(_._3.endMs).max).toMap
    val gaps = gens.filter(ends.contains).foldLeft((passSpan.startMs, Vector.empty[Double])) {
      case ((start, acc), gen) =>
        val end = ends(gen)
        val busy = Tracer.coveredMs(stages.map(s => (s.startMs, s.endMs)), start, end)
        (end, acc :+ (end - start - busy))
    }._2
    def actionMs(action: String): Double = {
      val perGen = labelled.filter(_._2 == action).groupBy(_._1).values
        .map(js => js.map(_._3.endMs).max - js.map(_._3.startMs).min).toSeq
      if (perGen.isEmpty) 0.0 else Stats.median(perGen)
    }
    val compactionMs = labelled.filter(_._2.endsWith("_compaction")).groupBy(l => (l._1, l._2))
      .values.map(js => js.map(_._3.endMs).max - js.map(_._3.startMs).min).sum
    val sketchStages = labelled.filter(_._2 == "sketch_build").flatMap(_._3.stageIds).toSet
    val fs = t.fsDelta(out.traceRun)
    val merges = io.committedMerges("seen")
    val compactionRows = merges.map { case (lo, hi) =>
      num(""""rows":(\d+)""", new String(io.readBytes(
        f"${io.root}/_commits/merge_seen_$lo%05d_$hi%05d.json"), "UTF-8"))
    }.sum
    def sumField(f: String) = manifests.map(m => num(s""""$f":(\\d+)""", m)).sum.toDouble
    val links = sumField("links")
    val last = io.lastCommittedGen().getOrElse(0)

    // share of the last generation's new URLs (all truly unseen before it)
    // that the previous generation's sketch shards call maybe-seen
    val fpRatio = {
      val shards = ShardStore.readAll(io, last - 1, w.cfg.sketchShards)
        .map(s => s.id -> s).toMap
      val fresh = CrawlLoop.seenWithGen(spark, io).filter(col("gen") === last)
        .select("url").collect().map(_.getString(0))
      if (shards.size < w.cfg.sketchShards || fresh.isEmpty) 0.0
      else fresh.count(u => shards(ShardStore.routeOf(u, shards.size)).maybe(u)).toDouble /
        fresh.length
    }

    sparkSide(t, out.traceRun) ++ Map(
      "loop.jobs_per_gen" -> jobs.size / g,
      "loop.stages_per_gen" -> stages.size / g,
      "loop.tasks_per_gen" -> stages.map(_.tasks).sum / g,
      "loop.driver_gap_ms_p50" -> (if (gaps.isEmpty) 0.0 else Stats.median(gaps)),
      "loop.core_busy_share" -> stages.map(_.runMs).sum / (out.wallS * 1e3 * cores),
      "loop.action.frontier_write_ms" -> actionMs("frontier_write"),
      "loop.action.seen_write_ms" -> actionMs("seen_write"),
      "loop.action.outcomes_write_ms" -> actionMs("outcomes_write"),
      "loop.action.sketch_build_ms" -> actionMs("sketch_build"),
      "loop.gen_samples" -> out.stepWallsMs.size.toDouble,
      "plans.fs_read_ops" -> fs.readOps / g,
      "plans.fs_write_ops" -> fs.writeOps / g,
      "plans.fs_list_ops" -> fs.listOps / g,
      "plans.bytes_written_mb" -> fs.bytesWritten / MB,
      "plans.files_per_gen" -> manifests.map(""""file":""".r.findAllIn(_).size).sum / g,
      "plans.compaction_ms" -> compactionMs,
      "plans.compaction_rows" -> compactionRows.toDouble,
      "plans.seen_segments" -> io.deltaDirs("seen", last).size.toDouble,
      "operators.links" -> links,
      "operators.candidates" -> sumField("candidates"),
      "operators.allowed" -> sumField("allowed"),
      "operators.dedup_yield" -> (if (links > 0) out.discovered / links else 0.0),
      "operators.select_ratio" -> sumField("fetched") / math.max(1.0, sumField("frontier_rows")),
      "functions.sketch_build_ms" ->
        stages.filter(s => sketchStages.contains(s.stageId)).map(_.runMs).sum / g,
      "functions.sketch_mb" -> math.max(0L, io.dirBytes(io.sketchDir(last))) / MB,
      "functions.prefilter_fp_ratio" -> fpRatio,
      "functions.prefilter_bloom_bc_gens" -> manifests.count(_.contains(""""prefilter":"bloom_bc"""")).toDouble,
      "functions.prefilter_sharded_gens" -> manifests.count(_.contains(""""prefilter":"sharded"""")).toDouble)
  }

  /** Metrics of one traced catalogue pass. */
  def cataloguePass(t: Tracing, w: CatalogueWorkload, out: PassOut): Map[String, Double] =
    sparkSide(t, out.traceRun) ++ w.lastTimes.map { case (q, s) => s"catalogue.${q}_s" -> s } ++
      Map("catalogue.shuffle_mb" -> t.passStages(out.traceRun).map(_.shuffleWriteBytes).sum / MB)

  /** Runs `f` (one round over a fixed sample, returning units of work) three
   * times after one warm round and returns the median rate in units/s. */
  def rate(f: () => Double): Double = {
    f()
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val units = f()
      units / ((System.nanoTime() - t0) / 1e9)
    })
  }

  /** Fixed page sample of the workload's corpus: (host, page) pairs. */
  private def samplePages(w: CrawlWorkload, n: Int): Seq[(Int, Int)] =
    (0 until w.cfg.corpus.numHosts).iterator
      .flatMap(h => (0 until math.min(4, CorpusGen.pageCount(w.cfg.corpus, h))).map(h -> _))
      .take(n).toVector

  def canonPerS(w: CrawlWorkload): Double = {
    val pairs = samplePages(w, 400).flatMap { case (h, p) =>
      CorpusGen.pageHrefs(w.cfg.corpus, h, p).map(CorpusGen.pageUrl(h, p) -> _)
    }
    rate { () =>
      pairs.count { case (b, href) => UrlCanon.resolveCanonHost(b, href).isDefined }
      pairs.size.toDouble
    }
  }

  def hrefsPerS(w: CrawlWorkload): Double = {
    val pages = samplePages(w, 2000)
    rate(() => pages.map { case (h, p) => CorpusGen.pageHrefs(w.cfg.corpus, h, p).size }.sum.toDouble)
  }

  def parseMbPerS(w: CrawlWorkload): Double = {
    val htmls = samplePages(w, 400).map { case (h, p) => CorpusGen.pageHtml(w.cfg.corpus, h, p) }
    val bytes = htmls.map(_.getBytes("UTF-8").length.toLong).sum
    rate { () => htmls.foreach(Extract.parsePage(_, withSpans = false)); bytes / MB }
  }

  /** One thread, the default window, over a fixed 5k-URL list served by the
   * workload's loopback web. */
  def fetchWindowPerS(w: HttpCrawlWorkload): Double = {
    val pages = samplePages(w, 1000)
    val urls = (0 until 5000).map { i =>
      val (h, p) = pages(i % pages.size); w.web.rewrite(CorpusGen.pageUrl(h, p))
    }
    val client = HttpFetcher.newClient(5000)
    rate { () =>
      HttpFetcher.fetchWindowed(client, urls.iterator, identity[String], 20000,
        graft.operators.FetchMode.Http().fetchWindow).foreach(_ => ())
      urls.size.toDouble
    }
  }

  /** Seconds for the politeness top-k over the generation-1 frontier. */
  def politenessS(spark: SparkSession, w: CrawlWorkload, dir: java.nio.file.Path): Double = {
    val io = new TableIO(dir.toString)
    val frontier = io.genDir("frontier", 1)
    if (!io.dirExists(frontier)) 0.0
    else {
      val df = spark.read.parquet(frontier)
      def once(): Double = {
        val t0 = System.nanoTime()
        Politeness.markTopKPerHost(df, w.cfg.perHostCap, w.cfg.saltBuckets)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      Stats.median((1 to 3).map(_ => once()))
    }
  }
}
