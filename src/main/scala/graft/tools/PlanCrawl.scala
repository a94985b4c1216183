package graft.tools

import graft.GraftSession
import graft.operators.{Frontier, Links, Robots, Sitemaps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLI: plan the NEXT crawl cycle from the LAST one (r15) — the
  * closing of the crawl loop, composing the round's politeness and
  * link operators end-to-end:
  *
  *   candidates  = sitemap entries ([[graft.operators.Sitemaps.entriesOf]],
  *                 pages AND child sitemaps) ∪ declared sitemap
  *                 pointers ([[graft.operators.Robots.sitemapsOf]])
  *                 ∪ anchor outlinks ([[graft.operators.Links.outlinksOf]])
  *                 ∪ redirect targets ([[graft.operators.Links.redirects]])
  *   new         = candidates − already-fetched target URIs
  *                 (both sides canonicalized — q73's dedup key)
  *   allowed     = [[graft.operators.Robots.gate]] against the
  *                 crawl's own robots captures
  *   plan        = [[graft.operators.Frontier.schedule]] with the
  *                 captured Crawl-delays
  *
  * Usage:
  *   runMain graft.tools.PlanCrawl <warcDir> <planDir>
  *     [agent] [nWorkers] [maxPerHost] [defaultDelaySec]
  *
  * Output: `<planDir>` parquet `(url, host, worker, seq, delay_ms,
  * fetch_offset_ms)` partitioned by worker (each fetcher reads only
  * its own partition), plus one summary line. Everything between the
  * segment scan and the plan write is projections, hash joins against
  * broadcast-sized rule/delay tables, one distinct and one per-host
  * window — no collects beyond the summary counts. */
object PlanCrawl {

  /** The planning pipeline over an already-loaded crawl frame —
    * spec-drivable without the CLI's session/stdout.
    *
    * Page-level `<meta name=robots content=nofollow>` is honored: a
    * nofollow page contributes NO outlinks to discovery (the
    * directive covers the whole page). Per-ANCHOR rel=nofollow
    * targets stay candidates — that flag is an endorsement hint
    * (PageRank's business), not a crawl exclusion. The decoded
    * frame is pinned (localCheckpoint) before the meta scan + link
    * extraction so the transfer/content/charset decode chain runs
    * ONCE per page instead of once per downstream regex reference —
    * the batch-CLI spelling of the staging contract; segment-sized
    * by construction (plans run per segment). */
  def plan(crawl: DataFrame, agent: String = "*", nWorkers: Int = 64,
      maxPerHost: Long = Long.MaxValue, defaultDelaySec: Double = 1.0): DataFrame = {
    val rules = Robots.rulesOf(crawl, agent)
    val delays = Robots.crawlDelaysOf(crawl, agent)
    def canon(df: DataFrame, c: String) =
      graft.functions.Text.withCanonicalUrl(df.select(col(c).as("url")), "url")
        .select(col("canonical_url").as("url"))
    val decoded = graft.sources.WarcSource.responseTextOf(crawl)
      .filter(col("html").isNotNull)
      .select(col("target_uri"), col("html"))
      .localCheckpoint(true)
    val followable = Links.metaRobots(decoded, "html")
      .filter(!col("nofollow")).drop("noindex", "nofollow")
    val candidates = canon(
        Sitemaps.entriesOf(crawl).select(col("loc").as("url")), "url")
      .unionByName(canon(
        Robots.sitemapsOf(crawl).select(col("sitemap").as("url")), "url"))
      .unionByName(canon(
        Links.outlinks(followable, "target_uri", "html").select(col("url")), "url"))
      .unionByName(canon(
        Links.redirects(crawl).select(col("to_url").as("url")), "url"))
      .distinct()
    val fetched = canon(
      crawl.filter(col("warc_type") === "response").select(col("target_uri")),
      "target_uri").distinct()
    val fresh = candidates.join(fetched, Seq("url"), "left_anti")
    val allowed = Robots.gate(fresh, rules, "url")
      .filter(col("allowed")).select(col("url"))
    Frontier.schedule(allowed, "url", delays,
      defaultDelaySec = defaultDelaySec, nWorkers = nWorkers,
      maxPerHost = maxPerHost)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: PlanCrawl <warcDir> <planDir> [agent] [nWorkers] [maxPerHost] [defaultDelaySec]")
    val warcDir = args(0)
    val planDir = args(1)
    val spark: SparkSession = GraftSession.get()
    val crawl = spark.read.format("graft.sources.WarcSource")
      .option("path", warcDir).load()
    val planned = plan(crawl,
      agent = args.lift(2).getOrElse("*"),
      nWorkers = args.lift(3).map(_.toInt).getOrElse(64),
      maxPerHost = args.lift(4).map(_.toLong).getOrElse(Long.MaxValue),
      defaultDelaySec = args.lift(5).map(_.toDouble).getOrElse(1.0))
    planned.write.mode("overwrite").partitionBy("worker").parquet(planDir)
    val t = spark.read.parquet(planDir).agg(
      count(lit(1)).as("planned"),
      countDistinct(col("host")).as("hosts"),
      countDistinct(col("worker")).as("workers"),
      max(col("fetch_offset_ms")).as("horizon_ms")).first()
    println(s"[plan-crawl] planned=${t.getLong(0)} hosts=${t.getLong(1)} " +
      s"workers=${t.getLong(2)} horizon_ms=${if (t.isNullAt(3)) 0L else t.getLong(3)}")
    spark.stop()
  }
}
