package graft.tools

import graft.GraftSession
import graft.operators.LangId
import org.apache.spark.sql.functions._

/** CLI: train, persist, reload and evaluate the hashed char-n-gram
  * language identifier ([[graft.operators.LangId]]) — the
  * TrainTokenizer drive convention: the artifact must survive a
  * save → load round trip before anything is reported.
  *
  * Usage:
  *   runMain graft.tools.TrainLangId <labeled> <outDir> [dim]
  *
  * `<labeled>` is a TSV (`lang<TAB>text` per line) or a parquet
  * directory with `lang`/`text` columns. The last 3 sentences per
  * language are held out; the tool trains on the rest, saves the
  * quantized model to `<outDir>`, RELOADS it, and prints per-language
  * held-out accuracy from the reloaded artifact. */
object TrainLangId {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: TrainLangId <labeled-tsv-or-parquet> <outDir> [dim]")
    val in = args(0)
    val out = args(1)
    val dim = args.lift(2).map(_.toInt).getOrElse(1 << 15)
    val spark = GraftSession.get()
    import spark.implicits._
    val raw =
      if (in.endsWith(".tsv") || in.endsWith(".txt"))
        spark.read.option("sep", "\t").csv(in).toDF("lang", "text")
      else spark.read.parquet(in).select(col("lang"), col("text"))
    // deterministic per-language split: last 3 rows (by text order)
    // per language held out
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("text"))
    val split = raw
      .withColumn("_rn", row_number().over(w))
      .withColumn("_n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))))
      .withColumn("id", monotonically_increasing_id())
      .localCheckpoint(true)
    try {
      val train = split.filter(col("_rn") <= col("_n") - 3)
      val held = split.filter(col("_rn") > col("_n") - 3)
      val model = LangId.train(train, "id", "text", "lang", dim = dim)
      val q = LangId.quantize(model)
      LangId.save(spark, q, out)
      val reloaded = LangId.load(spark, out) // round trip required
      require(reloaded.dim == q.dim && reloaded.weights.size == q.weights.size,
        "reloaded artifact differs from the trained model")
      val got = LangId.withLang(held, "text", reloaded, "lang_guess",
          idCol = Some("id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang_guess") === col("lang"), 1L).otherwise(0L)).as("ok"))
        .orderBy(col("lang"))
        .collect()
      var totN = 0L; var totOk = 0L
      got.foreach { r =>
        totN += r.getLong(1); totOk += r.getLong(2)
        println(f"[langid] ${r.getString(0)}%-4s held-out ${r.getLong(2)}/${r.getLong(1)}")
      }
      println(f"[langid] trained ${model.langs.size} languages dim=$dim " +
        f"nnz=${q.weights.size} -> $out  overall ${totOk}/${totN} " +
        f"(${100.0 * totOk / math.max(totN, 1)}%.1f%%)")
    } finally graft.Pins.release(split)
    spark.stop()
  }
}
