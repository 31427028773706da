package graft.corpus

import graft.model.Document
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}

/** Spark materialization of the deterministic corpus. The generator is a
 * pure function of (cfg, h, p), so the resulting Dataset is identical
 * regardless of partitioning/parallelism — safe for golden tests. */
object CorpusTables {

  /** documents(doc_id, spans) in exactly the input_hint shape, distributed:
   * one row per page, generated executor-side (no driver materialization). */
  def documents(spark: SparkSession, cfg: CorpusConfig): Dataset[Document] = {
    import spark.implicits._
    eachPage(spark, cfg)(CorpusGen.pageDoc)
  }

  /** One row `row(cfg, h, p)` per corpus page, generated executor-side: the
   * range of global page ids splits over the default parallelism and each id
   * finds its host by binary search over the driver-side prefix sums of the
   * per-host page counts (tiny: one Long per host). */
  def eachPage[T: Encoder](spark: SparkSession, cfg: CorpusConfig)(
      row: (CorpusConfig, Int, Int) => T): Dataset[T] = {
    val pagesPerHost = (0 until cfg.numHosts).map(h => CorpusGen.pageCount(cfg, h))
    val offsets = pagesPerHost.scanLeft(0L)(_ + _)
    val total = offsets.last
    val bc = spark.sparkContext.broadcast((cfg, offsets.toArray))
    spark.range(0, total, 1, spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val (c, offs) = bc.value
        it.map { boxed =>
          val gid = boxed.longValue()
          var lo = 0; var hi = offs.length - 2
          while (lo < hi) {
            val mid = (lo + hi + 1) >>> 1
            if (offs(mid) <= gid) lo = mid else hi = mid - 1
          }
          row(c, lo, (gid - offs(lo)).toInt)
        }
      }
  }

  /** robots(host, disallow_prefix) — tiny, broadcast-joined downstream. */
  def robots(spark: SparkSession, cfg: CorpusConfig): Dataset[(String, String)] = {
    import spark.implicits._
    spark.createDataset(CorpusGen.robotsTable(cfg))
      .withColumnRenamed("_1", "host").withColumnRenamed("_2", "disallow_prefix")
      .as[(String, String)]
  }
}
