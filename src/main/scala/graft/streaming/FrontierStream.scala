package graft.streaming

import graft.core.HostFilter
import graft.corpus.CorpusConfig
import graft.model.Task
import graft.operators.{FetchMode, FrontierStep}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Structured Streaming surface (SURVEY.md §7.7): the reference's continuous
 * consumer loop (rmqredis.rs:213-257) as a stream. The BSP loop stays the
 * primary engine (deterministic, golden-tested); this surface covers
 * continuous-ingest deployments where tasks/documents arrive continuously
 * and must be politeness-gated, fetched, link-extracted, deduped and
 * metered online.
 *
 * A full streaming crawl GENERATION is two chained queries, mirroring the
 * reference's two-queue topology (frontier queue → worker → collection/
 * exchange, rmqredis.rs:138-159): Spark disallows two
 * `flatMapGroupsWithState` operators in one query, and the durable seam
 * between them is exactly where the reference has its exchange.
 *
 *   query 1: task stream → `politeStream` (per-host budget state, O1)
 *            → `fetchExtractStream` (narrow fetch + extract + canonicalize,
 *            S5/P1-P6) → candidates sink ("the exchange")
 *   query 2: candidate stream → `discoverStream` (host/robots filter F2-F3,
 *            stream-static LEFT ANTI vs the committed seen table J1, then
 *            stateful first-arrival dedup J2) → discovered sink
 *
 * StreamingSpec pins query-level parity against the batch engine: same
 * frontier in ⇒ same selected set and same discovered set out.
 *
 * Components:
 *  - `politeStream`: per-host politeness budget as keyed state — at most k
 *    fetches per host over the stream's lifetime window (the streaming form
 *    of the per-generation cap; reset = new state dir = new generation).
 *  - `fetchExtractStream`: the production fetch dataflow (one narrow
 *    mapPartitions: fetch → extract → resolve+canonicalize → within-page
 *    dedup), corpus-backed like FetchMode.Generator.
 *  - `discoverStream`: candidates → genuinely-new URLs.
 *  - `linkStream`: streaming documents(doc_id, spans) → exploded, resolved,
 *    canonicalized candidate links (same P1-P6 operators as the batch path).
 *  - `windowedOutcomeMetrics`: per-window outcome counts with a watermark —
 *    the streaming form of the A1/A2 metrics tables.
 *  - `dedupStream`: stateful URL-seen dedup via `flatMapGroupsWithState` —
 *    the streaming form of J1/J2 (per-key state = "seen before?"), emitting
 *    each canonical URL exactly once.
 */
object FrontierStream {

  /** O1 as keyed stream state: each host carries a fetch budget of `k`;
   * within a micro-batch the host's ELIGIBLE tasks compete by the SAME
   * deterministic queue key as the batch engine — (priority, next_fetch,
   * url) — and winners draw down the budget. Exactly the batch politeness
   * selection of the eligible set when the generation arrives as one batch;
   * across batches the budget makes the cap hold over the whole stream
   * window.
   *
   * Eligibility: the batch engine (Politeness.markEligibleTopK) defers tasks
   * whose `next_fetch` window hasn't arrived (`next_fetch > gen` — crawl
   * delays, requeued rejects). The same rule applies here against the `gen`
   * this stream window represents: ineligible rows never enter the budget
   * take (they must NOT be fetched early). They are also not emitted —
   * politeStream's output is the selected set only — so the exchange that
   * feeds this stream must re-deliver them when their window opens (the BSP
   * loop's frontier table does exactly that; a pure-streaming deployment
   * with crawl delays should drain deferred tasks through the batch engine).
   * `gen` is therefore REQUIRED, not defaulted: a silently-defaulted window
   * would make every delayed task vanish from the stream with no
   * re-delivery — pass the generation the window represents (0 for a
   * delay-free stream).
   *
   * Skew note: a keyed stateful op puts one host's batch rows in one task
   * (no salting seam exists inside flatMapGroupsWithState) — the sort is
   * O(rows-per-host-per-batch). Fine at stream rates; a Zipf-head backlog
   * should be drained through the BATCH engine, whose salted two-stage
   * top-k breaks exactly that hot spot.
   *
   * State size: one Int per host ever selected from — bounded by the host
   * universe, orders of magnitude below URL counts; safe on any provider. */
  def politeStream(spark: SparkSession, tasks: DataFrame, k: Int,
      gen: Long): Dataset[Task] = {
    import spark.implicits._
    val select = (host: String, it: Iterator[Task], state: GroupState[Int]) => {
      val used = state.getOption.getOrElse(0)
      val budget = math.max(0, k - used)
      val winners = it.toVector
        .sortBy(t => (t.priority, t.next_fetch, t.url))
        .take(budget)
      if (winners.nonEmpty) state.update(used + winners.size)
      winners.iterator
    }
    tasks.as[Task]
      .filter(t => t.next_fetch <= gen) // delay windows: defer, never fetch early
      .groupByKey(_.host)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(select)
  }

  /** S5 + P1-P6 as one narrow streaming stage: fetch each selected task from
   * the deterministic corpus and emit its candidate (url, host) pairs — the
   * batch Generator mode's kernel (FrontierStep.corpusCandidates). */
  def fetchExtractStream(spark: SparkSession, tasks: Dataset[Task],
      corpus: CorpusConfig): DataFrame = {
    import spark.implicits._
    tasks.mapPartitions(_.flatMap(tk => FrontierStep.corpusCandidates(corpus, tk.url)))
      .toDF("url", "host")
  }

  /** The PRODUCTION form of the streaming fetch stage: the batch engine's
   * FetchMode.Http fetch + extract (FrontierStep.fetchHttp — real sockets,
   * pooled client, windowed requests, the same page classification), minus
   * archive. Every task emits ONE outcome row (`row_kind = 'outcome'`:
   * ok/err/reject + error_kind, the reference's TaskProcessResult routing;
   * a truncated Ok page carries `Truncated`) plus its candidate rows
   * (`row_kind = 'candidate'`) when the page is Ok — non-Ok fetches are
   * TEED, not dropped. One pass, one fetch per task; split the two kinds in
   * `foreachBatch` (or two filtered sinks over a persisted exchange) to
   * route candidates onward and outcomes to metrics/requeue. */
  def fetchExtractStreamHttpFull(spark: SparkSession, tasks: Dataset[Task],
      rewrite: String => String, connectTimeoutMs: Int = 5000,
      requestTimeoutMs: Int = 20000, fetchWindow: Int = 16,
      maxBodyBytes: Long = graft.sources.HttpFetcher.DefaultMaxBodyBytes): DataFrame = {
    import spark.implicits._
    val mode = FetchMode.Http(rewrite, connectTimeoutMs, requestTimeoutMs,
      fetchWindow, maxBodyBytes)
    tasks.mapPartitions { it =>
      FrontierStep.fetchHttp(it, mode, withSpans = false).flatMap { case (tk, pg) =>
        Iterator.single(("outcome", tk.url, tk.host, pg.outcome, pg.errorKind)) ++
          pg.links.iterator.map { case (u, h) => ("candidate", u, h, "", "") }
      }
    }.toDF("row_kind", "url", "host", "outcome", "error_kind")
  }

  /** Candidates-only view of the production fetch stage (same single-fetch
   * pass; the outcome rows are filtered, not skipped — use the Full form
   * when the deployment needs them). */
  def fetchExtractStreamHttp(spark: SparkSession, tasks: Dataset[Task],
      rewrite: String => String, connectTimeoutMs: Int = 5000,
      requestTimeoutMs: Int = 20000, fetchWindow: Int = 16): DataFrame =
    fetchExtractStreamHttpFull(spark, tasks, rewrite, connectTimeoutMs,
        requestTimeoutMs, fetchWindow)
      .filter(col("row_kind") === "candidate")
      .select("url", "host")

  /** F2/F3 + robots + J1/J2 on a candidate stream: the batch engine's host
   * filter and corpus robots rules, a stream-static LEFT ANTI join against
   * the committed `seen` table (statically known URLs never re-emit) and
   * stateful first-arrival dedup for URLs discovered twice WITHIN the
   * stream. Emits each genuinely-new canonical URL exactly once. */
  def discoverStream(spark: SparkSession, candidates: DataFrame,
      seen: DataFrame, filter: HostFilter, corpus: CorpusConfig): DataFrame = {
    val allowed = FrontierStep.corpusRobotsFilter(
        FrontierStep.filterHosts(candidates, filter), corpus)
      .join(seen.select("url"), Seq("url"), "left_anti")
    dedupStream(spark, allowed)
  }

  /** Streaming documents → candidate canonical links (append mode): the
   * batch CorpusJoin span→links projection (FrontierStep.spanLinks). */
  def linkStream(docs: DataFrame): DataFrame =
    FrontierStep.spanLinks(docs.select(col("doc_id").as("base_url"), col("spans")))

  /** Watermarked sliding-window outcome counts over a streaming outcomes
   * feed (gen, url, outcome, error_kind, ts). */
  def windowedOutcomeMetrics(outcomes: DataFrame,
      watermark: String = "10 minutes", win: String = "5 minutes",
      slide: String = "5 minutes"): DataFrame =
    outcomes
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), win, slide), col("outcome"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("outcome"), col("n"))

  /** Stateful exactly-once URL emission: keyed state per canonical URL —
   * first arrival emits, later arrivals are swallowed (streaming J1/J2).
   *
   * State-size story (the production config): URL-seen state grows with
   * every distinct URL the stream meets — unbounded over a crawl's lifetime.
   * Two knobs make it deployable:
   *
   *  1. **Provider**: run with the RocksDB state store
   *     (`spark.sql.streaming.stateStore.providerClass =
   *     ...state.RocksDBStateStoreProvider`) so state lives on executor
   *     disk + block cache instead of JVM heap; the default in-memory
   *     (HDFS-backed) provider keeps every key on-heap and caps out at
   *     millions of URLs per executor. StreamingSpec runs its parity suite
   *     under RocksDB.
   *  2. **TTL**: `stateTtlMs` evicts a URL's state after that long without
   *     a sighting (ProcessingTimeTimeout; re-arrival refreshes the clock).
   *     Eviction trades memory for possible RE-emission of a URL seen
   *     longer than ttl ago — safe in this topology because emitted URLs
   *     land in the durable seen table, and the NEXT window's
   *     `discoverStream` anti-joins candidates against that committed table
   *     before this operator ever sees them: a re-emission is one duplicate
   *     exchange row within a window, never a duplicate fetch. Size ttl to
   *     the window between seen-table commits. None = exact dedup with
   *     monotone state (fine for bounded replays/tests). */
  def dedupStream(spark: SparkSession, links: DataFrame,
      stateTtlMs: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val urls = links.select("url").as[String].groupByKey(identity)
    val out = stateTtlMs match {
      case None =>
        val emit = (url: String, _: Iterator[String], state: GroupState[Boolean]) => {
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(url) }
        }
        urls.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(emit)
      case Some(ttl) =>
        val emit = (url: String, _: Iterator[String], state: GroupState[Boolean]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) {
            state.setTimeoutDuration(ttl) // refresh: ttl counts from last sighting
            Iterator.empty
          } else {
            state.update(true); state.setTimeoutDuration(ttl)
            Iterator.single(url)
          }
        }
        urls.flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(emit)
    }
    out.toDF("url")
  }
}
