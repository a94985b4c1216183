package graft.tools

import graft.GraftSession
import graft.operators.Dedup

/** CLI: rewrite a persisted signature index (minhash / hamming /
  * embedding-LSH — any `_graft_family.json`-marked parquet dir) into
  * NEW banding geometry ([[graft.operators.Dedup.rebandIndex]]) —
  * the re-shard operation for an index that grew past its geometry's
  * sweet spot (SCALE.md r14: `ranges` should grow with the index so
  * blocks stay near `maxPartitionBytes`). `bands 0` flattens.
  * Identity fields (family, hashing params) carry verbatim; probes
  * and the curation streams must present the new geometry afterwards
  * (`indexBands`/`indexRanges`).
  *
  * Usage: runMain graft.tools.RebandIndex <indexPath> <bands> [ranges] [targetFiles]
  *        runMain graft.tools.RebandIndex <indexPath> auto [targetFiles]
  *
  * `auto` (r15) measures the index and applies
  * [[graft.operators.Dedup.recommendGeometry]] — SCALE.md's own rule
  * (blocks near `maxPartitionBytes`); a no-op (with the advice
  * printed) when the current geometry already matches. */
object RebandIndex {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: RebandIndex <indexPath> <bands> [ranges] [targetFiles] | <indexPath> auto [targetFiles]")
    val path = args(0)
    val spark = GraftSession.get()
    if (args(1).equalsIgnoreCase("auto")) {
      val target = args.lift(2).map(_.toInt).getOrElse(16)
      val a = Dedup.recommendGeometry(spark, path)
      println(s"[reband-index] advice: bands=${a.bands} ranges=${a.recommendedRanges} " +
        s"(now ${if (a.ranges > 0) s"banded(${a.bands},${a.ranges})" else "flat"}, " +
        s"${a.flatRows} ids, ${a.indexBytes} B, drifted=${a.drifted})")
      if (a.ranges == a.recommendedRanges && a.ranges > 0)
        println(s"[reband-index] $path already at the recommended geometry — no-op")
      else {
        val ids = Dedup.rebandIndex(spark, path, a.bands, a.recommendedRanges, target)
        println(s"[reband-index] $path -> banded(${a.bands},${a.recommendedRanges}) ids=$ids")
      }
    } else {
      val bands = args(1).toInt
      val ranges = args.lift(2).map(_.toInt).getOrElse(64)
      val target = args.lift(3).map(_.toInt).getOrElse(16)
      val ids = Dedup.rebandIndex(spark, path, bands, ranges, target)
      val layout = if (bands > 0) s"banded($bands,$ranges)" else "flat"
      println(s"[reband-index] $path -> $layout ids=$ids")
    }
    spark.stop()
  }
}
