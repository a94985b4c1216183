package graft.tools

import graft.GraftSession
import graft.streaming.DocStream

/** CLI: the arriving-crawl pipeline — tail-follow a directory of
  * crawl shards ([[graft.sources.WarcSource]] streaming read) and
  * curate each arriving segment through quality + incremental
  * near-dup into a growing corpus + MinHash index.
  *
  * Usage:
  *   runMain graft.tools.CrawlCurate <warcDir> <outDir> [wet|raw] [quality|gopher] [robots] [noindex] [maincontent] [pollSeconds]
  *
  * `wet` (default) eats WET `conversion` records
  * ([[graft.streaming.DocStream.curateWetCrawl]]); `raw` (r14) eats
  * raw-crawl `response` records through the full extraction chain —
  * envelope split, chunked deframe, Content-Encoding inflate,
  * charset decode, stripHtml
  * ([[graft.streaming.DocStream.curateRawCrawl]]) — the arm for the
  * (majority of) archives that publish WARC only.
  *
  * `<outDir>` receives `corpus/` (parquet, one row per admitted page
  * with target_uri + quality), `index/` (MinHash signatures) and
  * `ckpt/` (stream checkpoint — re-runs resume exactly-once).
  * The gate (r13) picks the quality filter: `quality` (default, the
  * scalar `qualityScore >= 0.2`) or `gopher` (the Gopher rule set —
  * the same trees the gated batch composition q120 runs).
  * `robots` (r15, raw only) turns on RFC 9309 politeness: each
  * batch's captured /robots.txt responses merge into
  * `<outDir>/robots/` (latest capture per host wins) and its pages
  * gate against the accumulated rules before quality — see
  * [[graft.streaming.DocStream.curateRawCrawl]]'s robots notes.
  * `noindex` (r15, raw only) honors page-level
  * `<meta name=robots content=noindex>` — such pages never reach the
  * quality gate (the in-document half of the exclusion protocol;
  * costs ~2 extra decode evaluations per page, see
  * [[graft.sources.WarcSource.crawlTextOf]]).
  * `maincontent` (r16, raw only) swaps whole-page stripHtml for the
  * block-level content/chrome classifier
  * ([[graft.operators.Corpus.extractContent]]) — navigation, link
  * lists and footers never reach the quality gate, dedup or corpus
  * (WET parity keeps the default off).
  * Without `pollSeconds` the run drains what is present and stops
  * (Trigger.AvailableNow — the bounded-run probe); with it the
  * stream keeps polling for new segment files until Ctrl-C, printing
  * `[neardup] batch=… kept=…` per micro-batch. */
object CrawlCurate {
  private val Usage =
    "usage: CrawlCurate <warcDir> <outDir> [wet|raw] [quality|gopher] [robots] [noindex] [maincontent] [pollSeconds]"
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val warcDir = args(0)
    val out = args(1)
    // keyword args match case-insensitively by VALUE, not position;
    // anything that is neither a keyword nor a poll-seconds integer
    // fails with the usage line (r14, advisor: `Gopher 30` used to
    // silently run the Quality gate and then die on `"Gopher".toInt`)
    val rest = args.drop(2).map(_.toLowerCase(java.util.Locale.ROOT))
    val raw = rest.contains("raw")
    val gate =
      if (rest.contains("gopher")) DocStream.CrawlGate.Gopher()
      else DocStream.CrawlGate.Quality()
    val robots = rest.contains("robots")
    require(!robots || raw, s"robots politeness needs the raw arm — $Usage")
    val noindex = rest.contains("noindex")
    require(!noindex || raw, s"noindex gating needs the raw arm — $Usage")
    val mainContent = rest.contains("maincontent")
    require(!mainContent || raw, s"main-content extraction needs the raw arm — $Usage")
    val leftovers = rest.filterNot(Set("raw", "wet", "gopher", "quality", "robots", "noindex", "maincontent"))
    require(leftovers.length <= 1, Usage)
    val poll = leftovers.headOption.map { s =>
      require(s.nonEmpty && s.forall(_.isDigit),
        s"unrecognized argument '$s' — $Usage")
      s"${s.toInt} seconds"
    }
    val spark = GraftSession.get()
    val q =
      if (raw) DocStream.curateRawCrawl(spark, warcDir,
        corpusDir = s"$out/corpus", indexDir = s"$out/index",
        checkpointDir = s"$out/ckpt", gate = gate, pollInterval = poll,
        robotsRulesDir = if (robots) Some(s"$out/robots") else None,
        dropNoindex = noindex, mainContent = mainContent)
      else DocStream.curateWetCrawl(spark, warcDir,
        corpusDir = s"$out/corpus", indexDir = s"$out/index",
        checkpointDir = s"$out/ckpt", gate = gate, pollInterval = poll)
    q.awaitTermination()
    val n = scala.util.Try(
      spark.read.parquet(s"$out/corpus").count()).getOrElse(0L)
    println(s"[crawl] done corpus=$n docs at $out/corpus")
    spark.stop()
  }
}
