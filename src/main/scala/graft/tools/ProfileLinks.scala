package graft.tools

import graft.GraftSession
import graft.operators.Links
import org.apache.spark.sql.functions._

/** CLI: keep a host link-graph table current beside a crawl (r15) —
  * the [[graft.streaming.DocStream.profileLinkGraph]] drive: arriving
  * shards' outlinks (nofollow excluded) land as per-batch edge
  * partitions; the accumulated table aggregates to the corpus host
  * graph and, with `rank`, feeds the integer PageRank for a
  * domain-quality refresh.
  *
  * Usage:
  *   runMain graft.tools.ProfileLinks <warcDir> <edgesDir> <ckptDir> [rank] [pollSeconds]
  *
  * Without `pollSeconds` it drains what is there and exits
  * (checkpoint resume on re-run); with it, it tails until Ctrl-C.
  * `rank` additionally runs 3 PageRank iterations over the
  * accumulated edges after the drain and prints the top hosts —
  * rank refresh is a batch decision on the operator's cadence, the
  * stream only keeps the edge table current. */
object ProfileLinks {
  private val Usage =
    "usage: ProfileLinks <warcDir> <edgesDir> <ckptDir> [rank] [pollSeconds]"
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, Usage)
    val rest = args.drop(3).map(_.toLowerCase(java.util.Locale.ROOT))
    val rank = rest.contains("rank")
    val leftovers = rest.filterNot(_ == "rank")
    require(leftovers.length <= 1, Usage)
    val poll = leftovers.headOption.map { s =>
      require(s.nonEmpty && s.forall(_.isDigit), s"unrecognized argument '$s' — $Usage")
      s"${s.toInt} seconds"
    }
    val spark = GraftSession.get()
    val q = graft.streaming.DocStream.profileLinkGraph(
      spark, args(0), args(1), args(2), pollInterval = poll)
    def summary(): String = {
      val t = spark.read.parquet(args(1)).agg(
        sum(col("n_links")).as("links"),
        countDistinct(col("src_host")).as("src_hosts"),
        countDistinct(col("dst_host")).as("dst_hosts")).first()
      def v(i: Int) = if (t.isNullAt(i)) 0L else t.getLong(i)
      s"links=${v(0)} src_hosts=${v(1)} dst_hosts=${v(2)}"
    }
    if (poll.isEmpty) {
      q.awaitTermination()
      println(s"[link-graph] done ${summary()}")
    } else {
      while (q.isActive) {
        q.awaitTermination(15000)
        if (new java.io.File(args(1)).exists())
          println(s"[link-graph] ${summary()}")
      }
    }
    if (rank) {
      val edges = spark.read.parquet(args(1))
        .filter(!col("internal"))
        .groupBy(col("src_host"), col("dst_host"))
        .agg(sum(col("n_links")).as("n"))
      if (edges.isEmpty) println("[link-rank] no external edges yet")
      else {
        val top = Links.pageRank(edges, "src_host", "dst_host", iterations = 3)
          .orderBy(col("rank").desc, col("node")).limit(10).collect()
        top.foreach(r => println(f"[link-rank] ${r.getString(0)}%-40s ${r.getLong(1)}%d"))
      }
    }
    spark.stop()
  }
}
