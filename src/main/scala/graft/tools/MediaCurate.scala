package graft.tools

import graft.GraftSession
import graft.streaming.DocStream

/** CLI: the arriving-media curation pipeline (r14) — tail-follow a
  * directory of parquet batches with `(doc_id, content)` rows and
  * curate each arriving batch through the kind's 64-bit fingerprint
  * + incremental hamming near-dup into a growing corpus + persisted
  * index ([[graft.streaming.DocStream.curateMediaNearDup]]).
  *
  * Usage:
  *   runMain graft.tools.MediaCurate <inDir> <outDir> [image|audio|video] [pollSeconds]
  *
  * `<outDir>` receives `corpus/` (survivors with their signature
  * rows), `index/` (hamming signatures under the kind's family
  * marker) and `ckpt/`. Without `pollSeconds` the run drains what is
  * present and stops (AvailableNow); with it the stream keeps
  * polling until Ctrl-C, printing `[mediadedup:<kind>] batch=…
  * kept=… invalid=…` per micro-batch. In-stream compaction runs
  * every 8 batches. */
object MediaCurate {
  private val Usage =
    "usage: MediaCurate <inDir> <outDir> [image|audio|video] [pollSeconds]"
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, Usage)
    val in = args(0)
    val out = args(1)
    val rest = args.drop(2).map(_.toLowerCase(java.util.Locale.ROOT))
    val kind = rest.find(Set("image", "audio", "video")).getOrElse("image")
    val leftovers = rest.filterNot(Set("image", "audio", "video"))
    require(leftovers.length <= 1, Usage)
    val poll = leftovers.headOption.map { s =>
      require(s.nonEmpty && s.forall(_.isDigit),
        s"unrecognized argument '$s' — $Usage")
      s"${s.toInt} seconds"
    }
    val spark = GraftSession.get()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("content", org.apache.spark.sql.types.BinaryType)
    val q = DocStream.curateMediaNearDup(spark,
      spark.readStream.schema(schema).parquet(in),
      corpusDir = s"$out/corpus", indexDir = s"$out/index",
      checkpointDir = s"$out/ckpt", kind = kind,
      pollInterval = poll, compactEvery = 8)
    q.awaitTermination()
    val n = scala.util.Try(
      spark.read.parquet(s"$out/corpus").count()).getOrElse(0L)
    println(s"[media-curate] done kind=$kind corpus=$n at $out/corpus")
    spark.stop()
  }
}
