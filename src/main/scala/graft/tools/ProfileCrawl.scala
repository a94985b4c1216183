package graft.tools

import graft.GraftSession
import graft.operators.Corpus

/** CLI: per-shard health profile of a crawl segment directory (r14)
  * — the first thing to run on a new crawl, BEFORE curation: record
  * mix, status classes, pipeline eligibility, coding distribution,
  * and the loud-null counters of every decode layer
  * ([[graft.operators.Corpus.crawlHealth]]).
  *
  * Usage:
  *   runMain graft.tools.ProfileCrawl <warcDir>
  *   runMain graft.tools.ProfileCrawl <warcDir> follow <healthDir> <ckptDir> [pollSeconds]
  *
  * The `follow` arm (r15) runs the STREAMING profiler
  * ([[graft.streaming.DocStream.profileCrawlHealth]]) beside a live
  * curation stream: arriving shards' counters land in `<healthDir>`
  * (one `batch_id=N` partition per committed batch, crash-replay
  * rewrites its own partition) and each drain prints the running
  * totals. Without `pollSeconds` it drains what's there and exits;
  * with it, it tails until Ctrl-C.
  *
  * A segment with a high `n_decode_null` / `n_charset_null` share is
  * broken or hostile — inspect before feeding it to CrawlCurate. */
object ProfileCrawl {
  def main(args: Array[String]): Unit = {
    require(args.length == 1 || (args.length >= 4 && args(1) == "follow"),
      "usage: ProfileCrawl <warcDir> [follow <healthDir> <ckptDir> [pollSeconds]]")
    val spark = GraftSession.get()
    def totals(health: org.apache.spark.sql.DataFrame): String = {
      val t = health.selectExpr("sum(n_records) as records",
        "sum(n_eligible) as eligible", "sum(n_no_body) as no_body",
        "sum(n_decode_null) as decode_null",
        "sum(n_charset_null) as charset_null", "sum(n_pages) as pages",
        "sum(n_unsupported_encoding) as unsupported_encoding").first()
      def v(i: Int) = if (t.isNullAt(i)) 0L else t.getLong(i)
      s"records=${v(0)} eligible=${v(1)} no_body=${v(2)} " +
        s"decode_null=${v(3)} charset_null=${v(4)} pages=${v(5)} " +
        s"unsupported_encoding=${v(6)}"
    }
    if (args.length == 1) {
      val health = Corpus.crawlHealth(spark, args(0))
        .orderBy(org.apache.spark.sql.functions.col("shard"))
      health.show(1000, truncate = false)
      println(s"[crawl-health] ${totals(health)}")
    } else {
      val poll = args.lift(4).map(s => s"${s.toInt} seconds")
      val q = graft.streaming.DocStream.profileCrawlHealth(
        spark, args(0), args(2), args(3), pollInterval = poll)
      if (poll.isEmpty) {
        q.awaitTermination()
        println(s"[crawl-health] done ${totals(spark.read.parquet(args(2)))}")
      } else {
        while (q.isActive) {
          q.awaitTermination(15000)
          if (new java.io.File(args(2)).exists())
            println(s"[crawl-health] ${totals(spark.read.parquet(args(2)))}")
        }
      }
    }
    spark.stop()
  }
}
