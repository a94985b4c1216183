package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a closed loop with one client. */
trait Workload {
  /** Stage inputs through the program's writers and warm up. Runs
    * [[Main.SetupReps]] times; the last one's inputs are measured. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** Untimed-by-the-loop first round, counted in set-up time. */
  def warmup(ctx: Ctx): Unit = ()
  /** One round of the closed loop. */
  def step(ctx: Ctx): Unit
  /** Output checks that need the whole run. */
  def finish(ctx: Ctx): Unit
  /** (work units per second, samples of the client operation in ms). */
  def throughputAndOps(ctx: Ctx): (Double, Seq[Double])
  /** The workload's named metrics, printed before the result line. */
  def detail(ctx: Ctx): Seq[(String, Double, String)]
  /** Per-layer metrics of a traced run, besides the [[detail]] ones
    * that [[Layers]] also lists. */
  def layers(ctx: Ctx, t: Tracer): Map[String, Double]
  def close(): Unit = ()
}

object Main {
  val SetupReps = 3

  /** Percentile of the client-operation tail. A run has too few
    * operations for a percentile with ten samples beyond it (6-7 query
    * rounds, 8 micro-batches, about 20 operator calls), so it is p75. */
  val TailPct = 75.0

  def make(name: String, seed: Long): Workload = name match {
    case "evm_archive" => new EvmArchive(seed)
    case "curation_drain" => new CurationDrain(seed)
    case "corpus_batch" => new CorpusBatch(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(cpus: Int, work: String): SparkSession = {
    val s = GraftSession.builder(cpus.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val launchMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0
    val tracer = if (traced) Some(new Tracer(spark, s"$name-$seed-${System.currentTimeMillis()}")) else None
    val ctx = new Ctx(spark, tracer.getOrElse(Trace.Off), work, seed)

    val g0 = System.nanoTime()
    val wl = make(name, seed)
    val genS = (System.nanoTime() - g0) / 1e9
    val setupTimes = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      ctx.trace.span("setup")(wl.setup(ctx, rep))
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    ctx.trace.span("warmup")(wl.warmup(ctx))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(setupTimes) + warmS
    val liveMb = Stats.liveMb()

    val m0 = System.nanoTime()
    val deadline = m0 + (seconds * 1e9).toLong
    var steps = 0
    while (steps == 0 || System.nanoTime() < deadline) {
      ctx.trace.span("step")(wl.step(ctx))
      steps += 1
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    ctx.trace.span("finish")(wl.finish(ctx))

    val (throughput, ops) = wl.throughputAndOps(ctx)
    val tail = TailPct
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("ok_ratio", 1.0 - ctx.failed.toDouble / math.max(ctx.attempted, 1L), "ratio"),
      ("live_heap_mb", liveMb, "MB"),
      ("throughput_per_s", throughput, "1/s"),
      ("op_p50_ms", Stats.pct(ops, 50), "ms"),
      ("op_tail_ms", Stats.pct(ops, tail), "ms"))
    val detail = Seq(
      ("session_start_s", sessionS, "s"),
      ("generate_s", genS, "s"),
      ("measured_s", measuredS, "s"),
      ("peak_rss_mb", Stats.peakRssMb(), "MB"),
      ("steps", steps.toDouble, "count"),
      ("ops", ops.size.toDouble, "count"),
      ("op_tail_pct", tail, "pct")) ++
      setupTimes.zipWithIndex.map { case (t, i) => (s"setup_rep${i}_s", t, "s") } ++
      Seq(("warmup_s", warmS, "s")) ++
      ctx.samples.keys.filter(_.startsWith("op.")).toSeq.map(k =>
        (s"${k.stripSuffix(".ms")}_p50_ms", Stats.median(ctx.values(k)), "ms")) ++
      wl.detail(ctx)

    val perLayer = tracer.map { t =>
      t.close()
      val named = detail.collect { case (k, v, _) if Layers.All.contains(k) => k -> v }
      val layers = Layers.spark(t, cpus) ++ wl.layers(ctx, t) ++ named ++ Map(
        "traced.setup_s" -> setupS, "traced.throughput_per_s" -> throughput,
        "traced.op_p50_ms" -> Stats.pct(ops, 50))
      // the drain's single-core reference runs last: it replaces the session
      wl match {
        case d: CurationDrain => layers ++ d.singleCoreReference(ctx)
        case _ => layers
      }
    }
    wl.close()

    val correct = ctx.failed == 0
    (endToEnd ++ detail).foreach { case (k, v, u) => println(f"$k%-40s $v%14.4f $u") }
    perLayer.foreach(_.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"$k%-40s $v%14.4f") })
    ctx.errors.foreach(e => println(s"error: $e"))

    val metrics = perLayer match {
      case Some(pl) => Layers.reported(name).map(n => n -> (pl.getOrElse(n, 0.0), Layers.unit(n)))
      case None => endToEnd.map { case (k, v, u) => k -> (v, u) }
    }
    Results.write(opts("results"), name, seed, traced, endToEnd, detail, perLayer, tracer)
    spark.stop()
    val m = metrics.map { case (k, (v, u)) => s""""$k":{"value":${Results.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
      s""""metrics":{${m.mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
