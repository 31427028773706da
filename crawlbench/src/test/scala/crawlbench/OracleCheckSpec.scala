package crawlbench

import graft.corpus.{CorpusConfig, CorpusGen}
import graft.operators.CrawlConfig
import graft.oracle.SeqCrawler
import org.scalatest.funsuite.AnyFunSuite

class OracleCheckSpec extends AnyFunSuite {

  private val cfg = CrawlConfig(corpus = CorpusConfig(seed = 42L, numHosts = 15, maxPages = 30),
    perHostCap = 3)
  private val oracle = SeqCrawler.crawl(cfg, CorpusGen.seeds(cfg.corpus, 3), 6)
  private val fetchedUrl = oracle.outcomes.head._2
  private val unfetchedUrl =
    (oracle.seenGen.keySet -- oracle.outcomes.map(_._2)).toSeq.sorted.head

  private def check(seen: Map[String, Int], outcomes: Seq[OracleCheck.Fetch]) =
    OracleCheck.compareCrawl(seen, outcomes, oracle)

  test("a result equal to the oracle has no failed operation") {
    val r = check(oracle.seenGen, oracle.outcomes)
    assert(r.failed == 0 && r.attempted == oracle.outcomes.map(_._2).distinct.size)
  }

  test("a one-URL difference in the first-seen generation fails one operation") {
    val r = check(oracle.seenGen.updated(fetchedUrl, oracle.seenGen(fetchedUrl) + 1),
      oracle.outcomes)
    assert(r.failed == 1, r.examples)
    val u = check(oracle.seenGen.updated(unfetchedUrl, 99), oracle.outcomes)
    assert(u.failed == 1 && u.attempted == r.attempted + 1, u.examples)
  }

  test("a changed, missing or extra fetch fails one operation") {
    val changed = oracle.outcomes.map {
      case (g, u, _, _) if u == fetchedUrl => (g, u, "err", "InvalidPage")
      case o => o
    }
    assert(check(oracle.seenGen, changed).failed == 1)
    assert(check(oracle.seenGen, oracle.outcomes.filterNot(_._2 == fetchedUrl)).failed == 1)
    val extra = oracle.outcomes :+ ((0, unfetchedUrl, "ok", ""))
    assert(check(oracle.seenGen, extra).failed == 1)
    assert(check(oracle.seenGen + ("http://h0.example/new" -> 1), oracle.outcomes).failed == 1)
  }
}
