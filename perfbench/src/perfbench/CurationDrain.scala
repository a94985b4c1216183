package perfbench

import graft.sinks.WarcShards
import graft.sources.WarcSource
import graft.streaming.DocStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** `curation_drain`: drain a backlog of raw WARC response shards with
  * `DocStream.curateRawCrawl` (AvailableNow, small triggers, exact-copy
  * dedup at minJaccard = 1.0, index and corpus compaction every few
  * batches). Each step is one whole drain into fresh corpus, index
  * and checkpoint directories, checked against the survivors the
  * seed implies. */
final class CurationDrain(seed: Long) extends Workload {
  import CurationDrain._

  val backlog: Backlog = Backlog(seed)
  private var warcDir, warmDir = ""
  private var drains, measuredDrains = 0
  private var drainMs = 0.0
  private var indexFiles, indexBytes, kept = Seq.empty[Double]

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    warcDir = ctx.path(s"drain/warc-$rep")
    warmDir = ctx.path(s"drain/warm-$rep")
    ctx.op("op.stage") {
      def stage(recs: Seq[(String, String, Array[Byte])], dir: String, shards: Int) =
        WarcShards.write(recs.toDF("k", "u", "p"), "k", "u", "p", dir, nShards = shards,
          warcType = "response", contentType = "application/http; msgtype=response")
      stage(backlog.records, warcDir, Shards)
      // the warm-up drain: a quarter of the backlog in two batches, so
      // both batch paths (first batch, then index probe + compaction) compile
      stage(backlog.warmRecords, warmDir, 2 * FilesPerTrigger)
    }
  }

  override def warmup(ctx: Ctx): Unit = drain(ctx, measured = false)

  def step(ctx: Ctx): Unit = drain(ctx, measured = true)

  private def drain(ctx: Ctx, measured: Boolean): Unit = {
    val out = ctx.path(s"drain/out-$drains")
    drains += 1
    ctx.trace match {
      case t: Tracer if measured => t.onBatch = () => {
        val (b, f) = Stats.du(s"$out/index")
        synchronized { indexFiles :+= f.toDouble; indexBytes :+= b.toDouble }
      }
      case _ =>
    }
    val t0 = System.nanoTime()
    val q = ctx.op("op.drain") {
      val q = ctx.trace.span("streaming.docstream.drain")(
        run(ctx.spark, if (measured) warcDir else warmDir, out))
      if (measured) {
        drainMs += (System.nanoTime() - t0) / 1e6
        measuredDrains += 1
        q.foreach(p => ctx.sample("batch", p.batchDuration.toDouble))
      }
    }
    ctx.trace match { case t: Tracer => t.onBatch = () => (); case _ => }
    if (q.isDefined) {
      ctx.op("op.check")(corpusUris(ctx.spark, out)).foreach { uris =>
        if (measured) {
          kept :+= uris.size.toDouble
          ctx.check("corpus keeps exactly the seed's survivors")(backlog.survivorsOk(uris))
        } else ctx.check("warm-up corpus keeps its survivors")(
          backlog.survivorsOk(uris, backlog.warmRecords.map(_._2)))
      }
    }
    Stats.deleteTree(out)
  }

  /** Traced only: the drain's decode chain (`WarcSource.crawlText`, the
    * projection `curateRawCrawl` streams through) as batch calls over the
    * backlog, so its task CPU can be told apart from dedup and commits. */
  def finish(ctx: Ctx): Unit = ctx.trace match {
    case _: Tracer =>
      for (_ <- 0 until DecodeReps)
        ctx.op("op.decode")(ctx.trace.span("functions.crawl.decode")(
          ctx.noop(WarcSource.crawlText(ctx.spark, warcDir))))
    case _ =>
  }

  def throughputAndOps(ctx: Ctx): (Double, Seq[Double]) =
    (backlog.records.size * measuredDrains / math.max(drainMs / 1000, 1e-9), ctx.values("batch"))

  def detail(ctx: Ctx): Seq[(String, Double, String)] = {
    val (tp, b) = throughputAndOps(ctx)
    Seq(
      ("drain.docs_per_s", tp, "docs/s"),
      ("drain.batch_p50_ms", Stats.pct(b, 50), "ms"),
      ("drain.batch_tail_ms", Stats.pct(b, Main.TailPct), "ms"),
      ("drain.batches", b.size.toDouble, "count"),
      ("drain.drains", measuredDrains.toDouble, "count"),
      ("drain.records", backlog.records.size.toDouble, "records"),
      ("drain.survivors", backlog.classes.toDouble, "docs"))
  }

  /** One drain at local[1] on a fresh session: the single-core
    * reference for the per-phase table. Stops the caller's session. */
  def singleCoreReference(ctx: Ctx): Map[String, Double] = {
    ctx.spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val one = Main.session(1, ctx.work)
    try {
      val ps = run(one, warcDir, ctx.path("drain/local1"))
      Layers.StreamPhases.map { p =>
        Layers.phaseKey("streaming.local1", p) ->
          Stats.median(ps.flatMap(x => Option(x.durationMs.get(p)).map(_.toDouble)).toSeq)
      }.toMap + ("streaming.local1.batch_p50_ms" -> Stats.median(ps.map(_.batchDuration.toDouble).toSeq))
    } finally one.stop()
  }

  def layers(ctx: Ctx, t: Tracer): Map[String, Double] = {
    val b = ctx.values("batch")
    val steps = t.under("step")
    val inDrain = t.under("streaming.docstream.drain").filter(x => steps(x))
    val measuredFrom = t.spans.find(_.name == "step").map(_.startNs).getOrElse(0L)
    val batches = t.batches.filter(x => x.rows > 0 && x.endNs >= measuredFrom)
    val measuredBatches = math.max(b.size, 1).toDouble
    val qs = t.queries.filter(q => inDrain(t.spanOfExec(q.execId)))
    def sumMs(pred: Trace.Query => Boolean) = qs.filter(pred).map(_.ms).sum / measuredBatches
    def writes(q: Trace.Query, suffix: String) = q.writes.exists(_.endsWith(suffix))
    val phases = Layers.StreamPhases.map { p =>
      Layers.phaseKey("streaming.progress", p) ->
        Stats.median(batches.flatMap(_.durations.get(p)).map(_.toDouble).toSeq)
    }
    Map(
      "streaming.docstream.compaction_ms" -> sumMs(q => writes(q, ".compact")),
      "streaming.docstream.corpus_append_ms" -> sumMs(q => writes(q, "/corpus")),
      "streaming.docstream.index_append_ms" -> sumMs(q => writes(q, "/index")),
      "streaming.docstream.pin_ms" -> sumMs(q => q.func.toLowerCase.contains("checkpoint")),
      "streaming.docstream.index_probe_ms" -> sumMs(q =>
        q.writes.isEmpty && !q.func.toLowerCase.contains("checkpoint") &&
          q.scans.exists(s => s.contains("/index"))),
      "streaming.kept_ratio" -> Stats.mean(kept) / backlog.records.size,
      "functions.crawl.decode_mb_per_cpu_s" -> t.spans.count(_.name == "functions.crawl.decode") *
        backlog.htmlBytes / 1e6 / math.max(Layers.cpuSeconds(t, "functions.crawl.decode"), 1e-9),
      "operators.dedup.index_files" -> Stats.mean(indexFiles),
      "operators.dedup.index_bytes" -> Stats.mean(indexBytes)) ++ phases
  }
}

object CurationDrain {
  val Shards = 8
  val FilesPerTrigger = 2
  val CompactEvery = 2
  val BaseDocs = 360
  val CopyShare = 0.2
  val ChaffShare = 0.08
  /** Decode-only passes of a traced run. */
  val DecodeReps = 3

  /** One AvailableNow drain; returns the progress of each micro-batch. */
  def run(spark: SparkSession, warcDir: String, out: String): Seq[StreamingQueryProgress] = {
    val q = DocStream.curateRawCrawl(spark, warcDir, s"$out/corpus", s"$out/index", s"$out/ckpt",
      minJaccard = 1.0, maxFilesPerTrigger = FilesPerTrigger,
      compactEvery = CompactEvery, compactTargetFiles = 2,
      corpusCompactEvery = CompactEvery, corpusCompactTargetFiles = 2)
    q.awaitTermination()
    q.recentProgress.filter(_.numInputRows > 0).toSeq
  }

  def corpusUris(spark: SparkSession, out: String): Seq[String] =
    spark.read.parquet(s"$out/corpus").select("target_uri").collect().map(_.getString(0)).toSeq
}

/** The drain's seeded backlog: distinct pages in five languages,
  * exact copies of a share of them under other URIs (and other
  * charsets or content codings, so only the decoded text matches),
  * and chaff the decode drops (404s and non-text responses). */
final case class Backlog(seed: Long) {
  import CurationDrain._

  private val base = Corpus(seed, BaseDocs, 0.0, 2).docs

  /** (key, uri, envelope, survivor class or -1 for chaff), and Σ bytes
    * of the HTML bodies the decode keeps, in their charsets. */
  val (pages: IndexedSeq[(String, String, Array[Byte], Int)], htmlBytes: Long) = {
    val r = Gen.rng(seed, 404)
    var html = 0L
    def enc(text: String) = {
      val cs = Gen.Charsets(r.nextInt(Gen.Charsets.size))
      html += Gen.html(text).getBytes(java.nio.charset.Charset.forName(cs)).length
      Gen.page(text, cs, r.nextBoolean())
    }
    val originals = base.zipWithIndex.map { case (d, i) =>
      (f"p$i%05d", s"http://site${i % 23}.example/page/$i", enc(d.text), i)
    }
    val copies = Gen.choose(r, base.size, math.round(BaseDocs * CopyShare).toInt).map { i =>
      val d = base(i)
      (f"c$i%05d", s"http://mirror${i % 7}.example/copy/$i", enc(d.text), i)
    }
    val chaff = (0 until (BaseDocs * ChaffShare).toInt).map { i =>
      val body = Gen.html(Gen.sentence(r, "en", 60)).getBytes("UTF-8")
      val p = if (i % 2 == 0) Gen.httpResponse("404 Not Found", "text/html; charset=utf-8", false, body)
        else Gen.httpResponse("200 OK", "image/png", false, body)
      (f"x$i%05d", s"http://chaff.example/$i", p, -1)
    }
    (originals ++ copies ++ chaff, html)
  }

  def records: Seq[(String, String, Array[Byte])] = pages.map(p => (p._1, p._2, p._3))

  /** The warm-up drain's input: the first quarter of the pages. */
  def warmRecords: Seq[(String, String, Array[Byte])] = records.take(records.size / 4)

  private val classOf: Map[String, Int] = pages.map(p => p._2 -> p._4).toMap

  /** Number of survivors: one per distinct page. */
  val classes: Int = base.size

  /** The corpus drained from the pages at `input` URIs holds one page
    * of every class among them, and nothing else. */
  def survivorsOk(uris: Seq[String], input: Seq[String] = pages.map(_._2)): Boolean = {
    val want = input.map(classOf).filter(_ >= 0).toSet
    val cls = uris.map(u => classOf.getOrElse(u, -1))
    cls.size == want.size && cls.toSet == want
  }
}
