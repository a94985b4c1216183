package perfbench

import graft.functions.Text
import graft.operators.{Dedup, LangId}
import graft.sinks.WarcShards
import graft.sources.WarcSource
import org.apache.spark.sql.functions._

/** `corpus_batch`: the compute-bound curation kernels as batch calls,
  * with no streaming machinery and no per-batch commit. Each step is
  * one pass: raw-crawl decode, near-duplicate pairs, duplicate
  * clusters, simhash candidates, duplicated-span removal and trained
  * langid classify, each evaluated through the noop sink. */
final class CorpusBatch(seed: Long) extends Workload {
  import CorpusBatch._

  val corpus: Corpus = Corpus(seed, Docs, DupShare, 0)
  private val train = Corpus(seed, TrainPerLang * Gen.Langs.size, 0.0, 1)
  private var docsPath, warcDir, pairsPath = ""
  private var model: LangId.Quantized = _
  private val htmlBytes = corpus.pages.map(_._4).sum

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    docsPath = ctx.path(s"corpus/docs-$rep")
    warcDir = ctx.path(s"corpus/warc-$rep")
    pairsPath = ctx.path(s"corpus/pairs-$rep")
    ctx.op("op.stage") {
      corpus.docs.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")
        .write.mode("overwrite").parquet(docsPath)
      WarcShards.write(corpus.pages.map(p => (p._1, p._2, p._3)).toDF("k", "u", "p"), "k", "u", "p",
        warcDir, nShards = Shards, warcType = "response",
        contentType = "application/http; msgtype=response")
      corpus.nearPairs.filter(_._3 >= MinJaccard).map(p => (p._1, p._2)).toDF("id_a", "id_b")
        .write.mode("overwrite").parquet(pairsPath)
    }
    ctx.op("op.train") {
      val labelled = train.docs.map(d => (d.id, d.text, d.lang)).toDF("doc_id", "text", "lang")
      model = LangId.quantize(LangId.train(labelled, "doc_id", "text", "lang"))
    }
  }

  /** The warm-up pass collects each call's output and checks it; the
    * measured passes then run the same calls through the noop sink. */
  override def warmup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    ctx.op("op.decode")(WarcSource.crawlText(spark, warcDir).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap)
      .foreach(got => ctx.check("raw-crawl decode")(decodeOk(got)))
    ctx.op("op.neardup")(Dedup.nearDuplicates(docs(ctx), "doc_id", "text", minJaccard = MinJaccard)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
      .foreach(got => ctx.check("near-duplicate pairs are the planted ones")(pairsOk(got)))
    ctx.op("op.clusters")(Dedup.duplicateClusters(spark.read.parquet(pairsPath)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
      .foreach(got => ctx.check("duplicate clusters")(clustersOk(got)))
    ctx.op("op.simhash")(ctx.noop(Dedup.simhashCandidates(docs(ctx), "doc_id", "text")))
    ctx.op("op.spans")(ctx.noop(Dedup.removeDuplicatedSpans(docs(ctx), "doc_id", "text", w = SpanWords)))
    ctx.op("op.langid")(Text.withLangId(spark.read.parquet(docsPath), "text", trained = Some(model))
      .agg(avg(when(col("lang_guess") === col("lang"), 1.0).otherwise(0.0))).collect()(0).getDouble(0))
      .foreach(acc => ctx.check(f"langid accuracy $acc%.4f >= $LangIdFloor")(acc >= LangIdFloor))
  }

  def step(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    def call(kind: String, span: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      ctx.op(s"op.$kind", "op")(ctx.trace.span(span)(ctx.noop(df)))
    call("decode", "functions.crawl.decode")(WarcSource.crawlText(spark, warcDir))
    call("neardup", "operators.dedup.neardup")(
      Dedup.nearDuplicates(docs(ctx), "doc_id", "text", minJaccard = MinJaccard))
    call("clusters", "operators.dedup.clusters")(
      Dedup.duplicateClusters(spark.read.parquet(pairsPath)))
    call("simhash", "operators.dedup.simhash")(Dedup.simhashCandidates(docs(ctx), "doc_id", "text"))
    call("spans", "operators.dedup.spans")(
      Dedup.removeDuplicatedSpans(docs(ctx), "doc_id", "text", w = SpanWords))
    call("langid", "operators.langid.classify")(
      Text.withLangId(docs(ctx), "text", trained = Some(model)))
    ctx.sample("pass", (System.nanoTime() - t0) / 1e6)
  }

  private def docs(ctx: Ctx) = ctx.spark.read.parquet(docsPath).select("doc_id", "text")

  def finish(ctx: Ctx): Unit = ()

  private val planted: Set[(Long, Long)] =
    corpus.nearPairs.filter(_._3 >= MinJaccard).map(p => (p._1, p._2)).toSet

  /** Exactly the planted pairs above the threshold, in either order. */
  def pairsOk(got: Seq[(Long, Long)]): Boolean =
    got.size == planted.size && got.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet == planted

  /** Each planted pair is one cluster labelled by its smaller id. */
  def clustersOk(got: Seq[(Long, Long)]): Boolean =
    got.size == 2 * planted.size && got.toSet == planted.flatMap { case (a, b) => Seq(a -> a, b -> a) }

  /** Every page decodes to its generated text; chaff is dropped. */
  def decodeOk(got: Map[String, String]): Boolean =
    got == corpus.docs.map(d => corpus.uri(d.id) -> d.text).toMap

  def throughputAndOps(ctx: Ctx): (Double, Seq[Double]) =
    (corpus.docs.size / math.max(Stats.median(ctx.values("pass")) / 1000, 1e-9), ctx.values("op"))

  def detail(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("corpus.docs_per_s", throughputAndOps(ctx)._1, "docs/s"),
    ("corpus.pass_p50_ms", Stats.median(ctx.values("pass")), "ms"),
    ("corpus.passes", ctx.values("pass").size.toDouble, "count"),
    ("corpus.docs", corpus.docs.size.toDouble, "docs"),
    ("corpus.planted_pairs", corpus.nearPairs.count(_._3 >= MinJaccard).toDouble, "pairs"))

  def layers(ctx: Ctx, t: Tracer): Map[String, Double] = {
    val decodeSpans = t.spans.count(_.name == "functions.crawl.decode")
    val nd = t.under("operators.dedup.neardup")
    val ndq = t.queries.filter(q => nd(t.spanOfExec(q.execId)))
    val cand = ndq.map(_.candidatePairs).sum.toDouble
    def med(span: String) = Stats.median(Layers.spanMs(t, span))
    Map(
      "functions.crawl.decode_mb_per_cpu_s" ->
        decodeSpans * htmlBytes / 1e6 / math.max(Layers.cpuSeconds(t, "functions.crawl.decode"), 1e-9),
      "operators.dedup.neardup_ms" -> med("operators.dedup.neardup"),
      "operators.dedup.clusters_ms" -> med("operators.dedup.clusters"),
      "operators.dedup.simhash_ms" -> med("operators.dedup.simhash"),
      "operators.dedup.spans_ms" -> med("operators.dedup.spans"),
      "operators.langid.classify_ms" -> med("operators.langid.classify"),
      "operators.dedup.candidate_pairs" -> cand / math.max(t.spans.count(_.name == "operators.dedup.neardup"), 1),
      "operators.dedup.pair_yield" -> (if (cand > 0) ndq.map(_.verifiedPairs).sum / cand else 0.0))
  }
}

object CorpusBatch {
  val Docs = 600
  val DupShare = 0.1
  val Shards = 8
  val TrainPerLang = 120
  val MinJaccard = 0.8
  val SpanWords = 8
  /** Trained-langid accuracy the labelled corpus must reach. */
  val LangIdFloor = 0.95
}

/** A seeded labelled corpus: docs in the five languages of
  * [[Gen.Vocab]] with a spread of lengths, a share of which carry a
  * per-language boilerplate line (work for span removal), plus
  * planted near-duplicate pairs half above and half below the
  * near-dup threshold, their exact shingle Jaccard known here. */
final case class Corpus(seed: Long, n: Int, dupShare: Double, stream: Long) {
  import Corpus._

  val docs: IndexedSeq[Doc] = {
    val r = Gen.rng(seed, 101, stream)
    val base = (0 until n).map { i =>
      val lang = Gen.Langs(i % Gen.Langs.size)
      // lengths follow a fixed log-spaced schedule, so every seed gives the same volume
      val words = math.exp(math.log(MinWords) + (i * 0.618034 % 1.0) * math.log(MaxWords.toDouble / MinWords)).toInt
      val body = Gen.sentence(r, lang, words)
      val text = if (r.nextDouble() < BoilerplateShare) s"$body ${boilerplate(lang)}" else body
      Doc(i.toLong, lang, text)
    }
    val nCopies = math.round(n * dupShare).toInt
    val picked = Gen.choose(r, n, nCopies).map(base)
    val copies = picked.zipWithIndex.map { case (d, j) =>
      val target = if (j % 2 == 0) 0.9 else 0.55
      Doc(n + j.toLong, d.lang, perturb(r, d, target), origin = d.id)
    }
    base ++ copies
  }

  /** (id_a, id_b, exact 3-shingle Jaccard) of every planted pair. */
  val nearPairs: Seq[(Long, Long, Double)] = {
    val byId = docs.map(d => d.id -> d).toMap
    docs.filter(_.origin >= 0).map(c => (c.origin, c.id, Gen.jaccard(byId(c.origin).text, c.text)))
  }

  def uri(id: Long): String = s"http://site${id % 37}.example/doc/$id"

  /** (key, uri, http envelope, html bytes) per doc, plus chaff the
    * decode must drop: a 404 and a non-text response. */
  lazy val pages: Seq[(String, String, Array[Byte], Long)] = {
    val r = Gen.rng(seed, 202, stream)
    val real = docs.map { d =>
      val cs = Gen.Charsets(r.nextInt(Gen.Charsets.size))
      val html = Gen.html(d.text).getBytes(java.nio.charset.Charset.forName(cs))
      (d.id.toString, uri(d.id), Gen.page(d.text, cs, gzipped = r.nextBoolean()), html.length.toLong)
    }
    val chaff = (0 until math.max(docs.size / 20, 2)).map { i =>
      val body = Gen.html(s"missing page $i").getBytes("UTF-8")
      val p = if (i % 2 == 0) Gen.httpResponse("404 Not Found", "text/html; charset=utf-8", false, body)
        else Gen.httpResponse("200 OK", "image/png", false, body)
      (s"chaff-$i", s"http://chaff.example/$i", p, 0L)
    }
    real ++ chaff
  }
}

object Corpus {
  final case class Doc(id: Long, lang: String, text: String, origin: Long = -1L)
  val MinWords = 40
  val MaxWords = 400
  val BoilerplateShare = 0.3

  def boilerplate(lang: String): String =
    Gen.sentence(Gen.rng(lang.hashCode.toLong, 303), lang, 12)

  /** Substitute words of `d` until the shingle Jaccard falls to about `target`. */
  def perturb(r: java.util.SplittableRandom, d: Doc, target: Double): String = {
    val words = d.text.split(' ')
    val vocab = Gen.Vocab.toMap.apply(d.lang)
    var j = 1.0
    var out = d.text
    while (j > target) {
      val i = r.nextInt(words.length)
      words(i) = vocab(r.nextInt(vocab.size)) + "x"
      out = words.mkString(" ")
      j = Gen.jaccard(d.text, out)
    }
    out
  }
}
