package crawlbench

import graft.oracle.SeqCrawler.OracleResult

/** Failed operations out of those attempted, with a few examples. */
final case class CheckResult(attempted: Long, failed: Long, examples: Seq[String]) {
  def +(o: CheckResult): CheckResult =
    CheckResult(attempted + o.attempted, failed + o.failed, (examples ++ o.examples).take(5))
}

/** Compares a committed crawl with `SeqCrawler` on the same config. An
 * operation is one fetch; it fails when the URL's outcomes or its
 * first-seen generation differ from the oracle's. A URL that is seen but
 * never fetched and whose first-seen generation differs (or that only one
 * side has seen) counts as one more failed operation. */
object OracleCheck {

  type Fetch = (Int, String, String, String) // (gen, url, outcome, error_kind)

  def compareCrawl(engineSeen: Map[String, Int], engineOutcomes: Seq[Fetch],
      oracle: OracleResult): CheckResult = {
    val eo = engineOutcomes.groupBy(_._2).view.mapValues(_.toSet).toMap
    val oo = oracle.outcomes.groupBy(_._2).view.mapValues(_.toSet).toMap
    val fetched = eo.keySet ++ oo.keySet
    val badFetches = fetched.iterator.filter { u =>
      eo.get(u) != oo.get(u) || engineSeen.get(u) != oracle.seenGen.get(u)
    }.toVector
    val badSeen = ((engineSeen.keySet ++ oracle.seenGen.keySet) -- fetched).iterator
      .filter(u => engineSeen.get(u) != oracle.seenGen.get(u)).toVector
    val examples = (badFetches ++ badSeen).take(5).map { u =>
      s"$u engine=(${engineSeen.get(u)}, ${eo.get(u)}) oracle=(${oracle.seenGen.get(u)}, ${oo.get(u)})"
    }
    CheckResult(fetched.size.toLong + badSeen.size, badFetches.size.toLong + badSeen.size,
      examples)
  }
}
