package graft.tools

import graft.GraftSession
import graft.operators.Dedup

/** CLI: compact an append-accumulated signature index (minhash /
  * hamming / embedding-LSH — any `_graft_family.json`-marked parquet
  * dir) into a bounded file count. Run periodically beside a
  * curation stream, the way [[Compact]] runs beside the log ingest;
  * not safe concurrently with an appender.
  *
  * Usage: runMain graft.tools.CompactIndex <indexPath> [targetFiles]
  */
object CompactIndex {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: CompactIndex <indexPath> [targetFiles]")
    val path = args(0)
    val target = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = GraftSession.get()
    val rows = spark.read.parquet(path).count()
    val (before, after) = Dedup.compactIndex(spark, path, target)
    val rowsAfter = spark.read.parquet(path).count()
    require(rows == rowsAfter, s"row count changed: $rows -> $rowsAfter")
    println(s"[compact-index] files $before -> $after rows=$rows at $path")
    spark.stop()
  }
}
