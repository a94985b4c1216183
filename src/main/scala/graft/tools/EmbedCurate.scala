package graft.tools

import graft.GraftSession
import graft.streaming.DocStream

/** CLI: the arriving-embedding curation pipeline (r15) — tail-follow
  * a directory of parquet batches with `(doc_id, vec)` rows
  * (`vec: array<double>`) and curate each arriving batch through the
  * persisted hyperplane-LSH index + exact-cosine verification into a
  * growing corpus ([[graft.streaming.DocStream.curateEmbeddingNearDup]])
  * — the SemDeDup/ANN arriving-batch setting.
  *
  * Usage:
  *   runMain graft.tools.EmbedCurate <inDir> <outDir> <dim> [minCosine] [pollSeconds]
  *
  * `<outDir>` receives `corpus/` (surviving vectors), `index/`
  * (LSH signatures under the (dim, bits, seed) marker) and `ckpt/`.
  * Without `pollSeconds` the run drains what is present and stops
  * (AvailableNow); with it the stream keeps polling until Ctrl-C,
  * printing `[embdedup] batch=… kept=…` per micro-batch. In-stream
  * index and corpus compaction run every 8 batches. */
object EmbedCurate {
  private val Usage =
    "usage: EmbedCurate <inDir> <outDir> <dim> [minCosine] [pollSeconds]"
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && args.length <= 5, Usage)
    val in = args(0)
    val out = args(1)
    val dim = args(2).toInt
    val minCosine = if (args.length >= 4) args(3).toDouble else 0.95
    val poll = if (args.length >= 5) {
      val s = args(4)
      require(s.nonEmpty && s.forall(_.isDigit),
        s"unrecognized argument '$s' — $Usage")
      Some(s"${s.toInt} seconds")
    } else None
    val spark = GraftSession.get()
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("vec", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))
    val q = DocStream.curateEmbeddingNearDup(spark,
      spark.readStream.schema(schema).parquet(in),
      corpusDir = s"$out/corpus", indexDir = s"$out/index",
      checkpointDir = s"$out/ckpt", minCosine = minCosine, dim = dim,
      pollInterval = poll,
      compactEvery = 8, corpusCompactEvery = 8)
    q.awaitTermination()
    val n = scala.util.Try(
      spark.read.parquet(s"$out/corpus").count()).getOrElse(0L)
    println(s"[embed-curate] done corpus=$n vectors at $out/corpus")
    spark.stop()
  }
}
