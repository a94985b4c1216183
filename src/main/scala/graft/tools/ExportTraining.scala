package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** CLI: curated corpus → reproducible TRAINING SHARDS — the last
  * mile of the pipeline, composing three gated operators end-to-end:
  *
  *   1. Unigram-encode with a saved tokenizer artifact
  *      ([[graft.operators.Unigram.loadVocab]] /
  *      [[graft.operators.Unigram.encodeDocsIds]] — unknown words
  *      map to `vocab.size`, the encoder's UNK id);
  *   2. [[graft.operators.Corpus.shuffleShards]] — the seed-keyed
  *      deterministic permutation into `nShards` shards;
  *   3. [[graft.operators.Chunking.packTokenBlocks]] per shard in
  *      SHUFFLED order (`idCol = seq`, EOS = `vocab.size + 1` — one
  *      past UNK, never a real id) — fixed `blockSize` blocks that
  *      span document boundaries, final partial block per shard
  *      emitted short, `doc_starts` carrying the attention-mask
  *      offsets.
  *
  * Output: parquet partitioned by `shard`, one row per block:
  * `(block_id, n_tokens, doc_starts, bin)` with `bin` the int32
  * LITTLE-ENDIAN token bytes (the q104 export convention — memmap
  * these straight into a trainer). Re-running with the same seed and
  * corpus produces byte-identical shards: the permutation is
  * md5-keyed, block placement is exact int64 arithmetic, and the
  * byte packing is endian-pinned — nothing depends on partitioning,
  * engine or retry timing.
  *
  * Usage:
  *   runMain graft.tools.ExportTraining <docsParquet> <vocabDir> <outDir> [seed] [nShards] [blockSize]
  */
object ExportTraining {
  private val Usage =
    "usage: ExportTraining <docsParquet> <vocabDir> <outDir> [seed] [nShards] [blockSize]"
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, Usage)
    val docs = args(0); val vocabDir = args(1); val out = args(2)
    val seed = if (args.length > 3) args(3) else "v1"
    val nShards = if (args.length > 4) args(4).toInt else 8
    val blockSize = if (args.length > 5) args(5).toInt else 512
    val spark = GraftSession.get()
    val vocab = graft.operators.Unigram.loadVocab(spark, vocabDir)
    val eosId = vocab.length + 1L
    val ids = graft.operators.Unigram.encodeDocsIds(
      spark.read.parquet(docs).select(col("doc_id"), col("text")),
      "text", vocab)
    val shuffled = graft.operators.Corpus.shuffleShards(
      ids.select(col("doc_id"), col("token_ids")), "doc_id", seed, nShards)
    val blocks = graft.operators.Chunking.packTokenBlocks(
      shuffled.select(col("shard"), col("seq"), col("token_ids")),
      "seq", "token_ids", blockSize = blockSize, eosId = eosId,
      shardCol = Some("shard"))
    blocks.select(col("shard"), col("block_id"),
        col("n_tokens"), col("doc_starts"),
        graft.functions.Int32Le.int32le(
          split(col("token_ids"), " ").cast("array<int>")).as("bin"))
      .repartition(col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    val stats = spark.read.parquet(out)
      .agg(count(lit(1)), sum(col("n_tokens")),
        countDistinct(col("shard"))).collect().head
    println(s"[export] shards=${stats.getLong(2)} blocks=${stats.getLong(0)} " +
      s"tokens=${stats.getLong(1)} block_size=$blockSize eos=$eosId at $out")
    spark.stop()
  }
}
