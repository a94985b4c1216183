package perfbench

/** The per-layer metric names of a traced run, their units, and the
  * Spark-level metrics every workload reports. A traced run prints
  * every name; a layer the workload does not touch reads 0. */
object Layers {
  private val Phases = Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
    "walCommit", "commitOffsets")

  val Units: Seq[(String, String)] = Seq(
    // the workloads' named end-to-end figures, measured under tracing
    "evm.ingest_logs_per_s" -> "1/s",
    "evm.ingest_window_p50_ms" -> "ms", "evm.ingest_window_p90_ms" -> "ms",
    "evm.query_p50_ms" -> "ms", "evm.query_p90_ms" -> "ms",
    "drain.docs_per_s" -> "1/s", "drain.batch_p50_ms" -> "ms", "drain.batch_tail_ms" -> "ms",
    "corpus.docs_per_s" -> "1/s",
    "traced.setup_s" -> "s", "traced.throughput_per_s" -> "1/s", "traced.op_p50_ms" -> "ms",
    // sources
    "sources.rpc.window_p50_ms" -> "ms", "sources.rpc.window_p90_ms" -> "ms",
    "sources.rpc.node_ms" -> "ms",
    "sources.logs.append_ms" -> "ms", "sources.logs.jobs_per_window" -> "count",
    "sources.logs.rescan_waste_ratio" -> "ratio", "sources.logs.bytes_per_log" -> "B",
    "sources.logs.files_per_range" -> "count", "sources.price.append_ms" -> "ms",
    // functions
    "functions.abi.decode_rows_per_cpu_s" -> "1/s",
    "functions.crawl.decode_mb_per_cpu_s" -> "MB/s",
    // operators
    "operators.eventviews.query_ms" -> "ms", "operators.asof.query_ms" -> "ms",
    "operators.dedup.neardup_ms" -> "ms", "operators.dedup.clusters_ms" -> "ms",
    "operators.dedup.simhash_ms" -> "ms", "operators.dedup.spans_ms" -> "ms",
    "operators.langid.classify_ms" -> "ms",
    "operators.dedup.candidate_pairs" -> "count", "operators.dedup.pair_yield" -> "ratio",
    "operators.dedup.index_files" -> "count", "operators.dedup.index_bytes" -> "B") ++
    // streaming
    Phases.map(p => s"streaming.progress.${p.toLowerCase}_ms" -> "ms") ++
    Seq("index_probe", "index_append", "corpus_append", "pin", "compaction")
      .map(p => s"streaming.docstream.${p}_ms" -> "ms") ++
    Seq("streaming.kept_ratio" -> "ratio") ++
    Phases.map(p => s"streaming.local1.${p.toLowerCase}_ms" -> "ms") ++
    Seq("streaming.local1.batch_p50_ms" -> "ms") ++
    Seq(
      // serving
      "serving.graphql.execute_p50_ms" -> "ms", "serving.graphql.execute_p90_ms" -> "ms",
      "serving.graphql.jobs_per_request" -> "count",
      // spark, per client operation unless noted
      "spark.task_cpu_ms" -> "ms", "spark.task_run_ms" -> "ms", "spark.gc_ms" -> "ms",
      "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
      "spark.spill_bytes" -> "B", "spark.jobs" -> "count", "spark.tasks" -> "count",
      "spark.cpu_util" -> "ratio",
      "spark.scan.files_read" -> "count", "spark.scan.bytes_read" -> "B",
      "spark.plan.exchanges" -> "count", "spark.plan.codegen_fallbacks" -> "count")

  val All: Seq[String] = Units.map(_._1)

  /** Names only `corpus_batch` measures. That workload is not in
    * BENCHMARK.json, so the result line of the others leaves them out. */
  val CorpusOnly: Set[String] = Set("corpus.docs_per_s", "operators.dedup.neardup_ms",
    "operators.dedup.clusters_ms", "operators.dedup.simhash_ms", "operators.dedup.spans_ms",
    "operators.langid.classify_ms", "operators.dedup.candidate_pairs", "operators.dedup.pair_yield")

  /** The per-layer names the result line of a traced run of `workload` carries. */
  def reported(workload: String): Seq[String] =
    if (workload == "corpus_batch") All else All.filterNot(CorpusOnly)
  private val unitOf = Units.toMap
  def unit(n: String): String = unitOf(n)

  def phaseKey(prefix: String, phase: String): String = s"$prefix.${phase.toLowerCase}_ms"
  val StreamPhases: Seq[String] = Phases

  /** Spark task totals over the measured client operations ("op"
    * spans inside "step" spans), per
    * operation; CPU utilisation over their wall time × cores; plan
    * facts per SQL execution inside them. */
  def spark(t: Tracer, cores: Int): Map[String, Double] = {
    val steps = t.under("step")
    val opSpans = t.spans.filter(s => s.name.startsWith("op.") && steps(s.id)).map(_.id).toSet
    val inside = t.spans.foldLeft(opSpans) { (acc, s) => if (acc(s.parent)) acc + s.id else acc }
    val aggs = inside.toSeq.flatMap(t.aggs.get)
    val nOps = math.max(opSpans.size, 1).toDouble
    def total(f: Trace.Agg => Long) = aggs.map(f).sum.toDouble
    val wallMs = t.spans.filter(s => opSpans(s.id)).map(_.ms).sum
    val qs = t.queries.filter(q => inside(t.spanOfExec(q.execId)))
    val nq = math.max(qs.size, 1).toDouble
    Map(
      "spark.task_cpu_ms" -> total(_.cpuNs) / 1e6 / nOps,
      "spark.task_run_ms" -> total(_.runMs) / nOps,
      "spark.gc_ms" -> total(_.gcMs) / nOps,
      "spark.shuffle_read_bytes" -> total(_.shuffleRead) / nOps,
      "spark.shuffle_write_bytes" -> total(_.shuffleWrite) / nOps,
      "spark.spill_bytes" -> total(_.spill) / nOps,
      "spark.jobs" -> total(_.jobs) / nOps,
      "spark.tasks" -> total(_.tasks) / nOps,
      "spark.cpu_util" -> (if (wallMs > 0) total(_.cpuNs) / 1e6 / (wallMs * cores) else 0.0),
      "spark.scan.files_read" -> qs.map(_.filesRead).sum / nq,
      "spark.scan.bytes_read" -> qs.map(_.bytesRead).sum / nq,
      "spark.plan.exchanges" -> qs.map(_.exchanges).sum / nq,
      "spark.plan.codegen_fallbacks" -> t.codegenFallbacks.get.toDouble)
  }

  /** Σ task CPU seconds under every span named `name`. */
  def cpuSeconds(t: Tracer, name: String): Double =
    t.under(name).toSeq.flatMap(t.aggs.get).map(_.cpuNs).sum / 1e9

  def spanMs(t: Tracer, name: String): Seq[Double] = t.spans.filter(_.name == name).map(_.ms).toSeq

  /** Σ SQL-execution time under spans named `name` that satisfy
    * `pred`, per such span. */
  def queryMsPerSpan(t: Tracer, name: String, pred: Trace.Query => Boolean): Double = {
    val n = t.spans.count(_.name == name)
    val under = t.under(name)
    if (n == 0) 0.0
    else t.queries.filter(q => pred(q) && under(t.spanOfExec(q.execId))).map(_.ms).sum / n
  }
}

object Results {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One JSON file per run under `dir`: every metric and, when traced,
    * every span with its self time and Spark totals. */
  def write(dir: String, workload: String, seed: Long, traced: Boolean,
      endToEnd: Seq[(String, Double, String)], detail: Seq[(String, Double, String)],
      perLayer: Option[Map[String, Double]], tracer: Option[Tracer]): Unit = {
    val d = new java.io.File(dir)
    d.mkdirs()
    def obj(xs: Seq[(String, Double, String)]) =
      xs.map { case (k, v, u) => s"${q(k)}:{${q("value")}:${num(v)},${q("unit")}:${q(u)}}" }
        .mkString("{", ",", "}")
    val layers = perLayer.map(pl => obj(Layers.reported(workload).map(n => (n, pl.getOrElse(n, 0.0), Layers.unit(n)))))
    val spans = tracer.map { t =>
      t.spans.map { s =>
        val a = t.aggs.get(s.id)
        s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"run":${q(t.runId)},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ms":${num(t.selfMs(s))},""" +
          s""""jobs":${a.map(_.jobs).getOrElse(0L)},"tasks":${a.map(_.tasks).getOrElse(0L)},""" +
          s""""task_cpu_ms":${num(a.map(_.cpuNs / 1e6).getOrElse(0.0))}}"""
      }.mkString("[", ",\n", "]")
    }
    val body = s"""{"workload":${q(workload)},"seed":$seed,"traced":$traced,""" +
      s""""end_to_end":${obj(endToEnd)},"detail":${obj(detail)}""" +
      layers.map(l => s""","per_layer":$l""").getOrElse("") +
      spans.map(s => s""","spans":$s""").getOrElse("") + "}\n"
    val f = new java.io.File(d, s"$workload-seed$seed-trace${if (traced) 1 else 0}.json")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
  }
}
