package perfbench

import graft.operators.{AsOfJoin, EventViews}
import graft.serving.GraphQL
import graft.sources.{Logs, Rpc}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `evm_archive`: archive a chain by polling, then query the decoded
  * views. Each step advances the node's head one tick, re-orgs a
  * seeded share of the blocks the ingest will re-pull, catches up
  * with `Rpc.ingestLoop` (one `eth_getLogs` window per tick, price
  * sweep on, rescan below the high-water mark) and then runs the
  * query mix once over `Logs.canonical`. */
final class EvmArchive(seed: Long) extends Workload {
  import EvmArchive._

  private val chain = new Chain(seed, Contracts, LogsPerBlock, ZipfS, Tokens)
  private val node = new RpcNode(chain)
  private var table, prices = ""
  private var tick = 0
  /** Stored rows of the archive by PK → removed flag, as the generator expects them. */
  private val stored = mutable.Map[(String, String, Long), Boolean]()
  private var newLogs, fetched, wasted, decodedRows = 0L
  private val windowStarts = mutable.ArrayBuffer[(Int, Long)]() // (node stamp index, op end ns)

  private def cfg = Rpc.Config(node.endpoint, toBlock = Some(node.head), blockStep = BlockStep,
    sleepMillis = 0, retryMillis = 200, tokens = chain.tokens, oracles = chain.oracles,
    priceTable = Some(prices), rescanDepth = RescanDepth, canonicalTombstones = true)

  def setup(ctx: Ctx, rep: Int): Unit = {
    table = ctx.path(s"evm/logs-$rep")
    prices = ctx.path(s"evm/price-$rep")
    stored.clear()
    fetched = 0L
    wasted = 0L
    node.head = InitialBlocks
    ctx.op("op.backfill")(Rpc.ingestLoop(ctx.spark, cfg, table))
    record(1L, InitialBlocks)
  }

  override def warmup(ctx: Ctx): Unit = queries(ctx, warm = true)

  /** Book-keeping of what the archive now stores for blocks [from, to]. */
  private def record(from: Long, to: Long): Unit =
    for (b <- from to to; (l, removed) <- chain.served(b)) {
      fetched += 1
      if (stored.get(l.pk).contains(removed)) wasted += 1
      if (!stored.get(l.pk).contains(true)) stored(l.pk) = removed
    }

  def step(ctx: Ctx): Unit = {
    tick += 1
    val hwm = node.head
    val from = math.max(hwm + 1 - RescanDepth, 1L)
    // the same number of re-orged blocks every tick, at seeded heights
    val r = Gen.rng(seed, 17, tick)
    val reorged = Gen.choose(r, (hwm - from + 1).toInt, ReorgsPerTick).map(from + _)
    reorged.foreach(chain.reorg)
    node.head = hwm + BlocksPerTick
    val stamps0 = node.getLogsStamps.size
    val t0 = System.nanoTime()
    ctx.op("op.ingest", "ingest_window") {
      ctx.trace.span("sources.rpc.ingestLoop")(Rpc.ingestLoop(ctx.spark, cfg, table))
    }.foreach { _ =>
      ctx.sample("ingest_ns", (System.nanoTime() - t0).toDouble)
      windowStarts += ((stamps0, System.nanoTime()))
      newLogs += (hwm + 1 to node.head).map(chain.currentLogs(_).size).sum +
        reorged.map(chain.currentLogs(_).size).sum
      record(from, node.head)
    }
    queries(ctx, warm = false)
  }

  private def canonical(ctx: Ctx): DataFrame = Logs.canonical(Logs.read(ctx.spark, table))

  /** Canonical logs of the chain up to the head, per the generator. */
  private def expectedLogs: Seq[Chain.Log] = (1L to node.head).flatMap(chain.currentLogs)

  private def queries(ctx: Ctx, warm: Boolean): Unit = {
    val sample = if (warm) null else "query"
    val r = Gen.rng(seed, 23, tick)
    val contract = chain.contracts(new Gen.Zipf(Contracts, ZipfS).sample(r))
    val transfers = expectedLogs.filter(_.event == Chain.Transfer)
    val spark = ctx.spark
    val t0 = System.nanoTime()

    // 1. GraphQL page with totalCount on the decoded Transfer view
    ctx.op("op.query.graphql", sample) {
      EventViews.registerAll(spark, canonical(ctx))
      val q = s"""{ ${Chain.Transfer.viewName}(condition: {contract_address: "$contract"}, """ +
        """first: 20, orderBy: "evt_block_number") { totalCount nodes { evt_block_number amount } } }"""
      val resp = ctx.trace.span("serving.graphql.execute")(GraphQL.execute(spark, q))
      val conn = Mapper.readTree(resp).path("data").path(Chain.Transfer.viewName)
      conn.path("totalCount").asLong(-1L)
    }.foreach { n =>
      ctx.check("graphql totalCount")(n == transfers.count(_.address == contract))
    }

    // 2. decoded Transfer volume per contract
    ctx.op("op.query.volume", sample)(ctx.trace.span("operators.eventviews.query")(transferTotals(ctx)))
      .foreach(got => ctx.check("transfer totals")(got == expectedTotals))

    // 3. as-of valuation of token transfers against the price table
    ctx.op("op.query.asof", sample) {
      ctx.trace.span("operators.asof.query") {
        val left = EventViews.project(canonical(ctx), Chain.Transfer)
          .filter(col("contract_address").isin(chain.tokens: _*))
          .select(col("contract_address").as("address"), col("evt_block_number"), col("amount"))
        val row = AsOfJoin.asOf(left, spark.read.parquet(prices), Seq("address"),
            "evt_block_number", "block_number", Seq("price"))
          .agg(count(lit(1)), count(col("price")), sum(col("price"))).collect()(0)
        (row.getLong(0), row.getLong(1),
          Option(row.getDecimal(2)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0)))
      }
    }.foreach { got =>
      ctx.check("as-of valuation")(got == expectedAsOf(transfers))
    }

    // 4. decode-only projection over all ten views
    ctx.op("op.query.decode", sample) {
      ctx.trace.span("functions.abi.decode") {
        decodedRows += expectedLogs.size
        val logs = canonical(ctx)
        ctx.noop(EventViews.referenceViews.map(e => EventViews.project(logs, e))
          .reduce(_.unionByName(_, allowMissingColumns = true)))
      }
    }

    // 5. resume probe
    ctx.op("op.query.hwm", sample)(Logs.highWaterMark(spark, table))
      .foreach(h => ctx.check("high-water mark")(h == node.head))
    if (!warm) ctx.sample("round", (System.nanoTime() - t0) / 1e6)
  }

  /** (transfers of tokens, those with a price, Σ price as of each). */
  private def expectedAsOf(transfers: Seq[Chain.Log]): (Long, Long, BigInt) = {
    val probes = node.priceProbes.toSeq.distinct.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val ts = transfers.filter(l => chain.tokens.contains(l.address))
    val priced = ts.flatMap { l =>
      val i = chain.tokens.indexOf(l.address)
      probes.getOrElse(i, IndexedSeq.empty).takeWhile(_ <= l.block).lastOption
        .map(p => chain.price(l.address, p))
    }
    (ts.size.toLong, priced.size.toLong, priced.sum)
  }

  def finish(ctx: Ctx): Unit =
    ctx.op("op.final.read")(archivedRows(ctx)).foreach { rows =>
      tableChecks(rows).foreach { case (name, ok) => ctx.check(name)(ok) }
    }

  /** The archived table as (PK, (removed, address, data)) rows. */
  def archivedRows(ctx: Ctx): Seq[Row] =
    Logs.read(ctx.spark, table)
      .select("block_hash", "transaction_hash", "log_index", "removed", "address", "data")
      .collect().map(r => ((r.getString(0), r.getString(1), r.getLong(2)),
        (r.getBoolean(3), r.getString(4), r.getString(5)))).toSeq

  /** The archive holds one row per PK, exactly the rows the node served
    * (tombstones winning), and its canonical rows are the chain now. */
  def tableChecks(rows: Seq[Row]): Seq[(String, Boolean)] = {
    val canon = rows.filter(!_._2._1).map(x => (x._1, x._2._2, x._2._3)).toSet
    Seq(
      "one row per PK" -> (rows.map(_._1).distinct.size == rows.size),
      "stored rows match the served chain" -> (rows.map(x => x._1 -> x._2._1).toMap == stored.toMap),
      "canonical rows equal the generated chain" ->
        (canon == expectedLogs.map(l => (l.pk, l.address, l.data)).toSet))
  }

  /** Per-contract (Σ amount, count) of decoded canonical Transfers. */
  def transferTotals(ctx: Ctx): Map[String, (BigInt, Long)] =
    EventViews.project(canonical(ctx), Chain.Transfer)
      .groupBy(col("contract_address"))
      .agg(sum(col("amount")).as("v"), count(lit(1)).as("n"))
      .collect().map(x => x.getString(0) -> (BigInt(x.getDecimal(1).toBigInteger), x.getLong(2)))
      .toMap

  /** Per-contract (Σ amount, count) of canonical Transfers up to the head. */
  def expectedTotals: Map[String, (BigInt, Long)] =
    expectedLogs.filter(_.event == Chain.Transfer).groupBy(_.address).view
      .mapValues(ls => (ls.map(_.words.head).sum, ls.size.toLong)).toMap

  def throughputAndOps(ctx: Ctx): (Double, Seq[Double]) =
    (newLogs / math.max(ctx.values("ingest_ns").sum / 1e9, 1e-9), ctx.values("round"))

  def detail(ctx: Ctx): Seq[(String, Double, String)] = {
    val (tp, rounds) = throughputAndOps(ctx)
    val q = ctx.values("query")
    val w = ctx.values("ingest_window")
    Seq(
      ("evm.round_p50_ms", Stats.pct(rounds, 50), "ms"),
      ("evm.ingest_logs_per_s", tp, "logs/s"),
      ("evm.ingest_window_p50_ms", Stats.pct(w, 50), "ms"),
      ("evm.ingest_window_p90_ms", Stats.pct(w, 90), "ms"),
      ("evm.ingest_windows", w.size.toDouble, "count"),
      ("evm.query_p50_ms", Stats.pct(q, 50), "ms"),
      ("evm.query_p90_ms", Stats.pct(q, 90), "ms"),
      ("evm.queries", q.size.toDouble, "count"),
      ("evm.head_block", node.head.toDouble, "block"),
      ("evm.archived_rows", stored.size.toDouble, "rows"))
  }

  def layers(ctx: Ctx, t: Tracer): Map[String, Double] = {
    val stamps = node.getLogsStamps.toIndexedSeq
    val windows = windowStarts.toSeq.filter(_._1 < stamps.size).map { case (i, end) =>
      (end - stamps(i)._1) / 1e6
    }
    val (bytes, files) = Stats.du(table)
    val ranges = Option(new java.io.File(table).listFiles()).getOrElse(Array.empty)
      .count(f => f.isDirectory && f.getName.startsWith("block_range="))
    val gql = Layers.spanMs(t, "serving.graphql.execute")
    val gqlJobs = t.under("serving.graphql.execute").toSeq.flatMap(t.aggs.get).map(_.jobs).sum
    def writesTo(p: String)(q: Trace.Query) = q.writes.exists(_.startsWith(new java.io.File(p).getAbsolutePath))
    val w = ctx.values("ingest_window")
    Map(
      "sources.rpc.window_p50_ms" -> Stats.pct(windows, 50),
      "sources.rpc.window_p90_ms" -> Stats.pct(windows, 90),
      "sources.rpc.node_ms" -> Stats.median(stamps.map(_._2 / 1e6)),
      "sources.logs.append_ms" -> Layers.queryMsPerSpan(t, "op.ingest", writesTo(table)),
      "sources.logs.jobs_per_window" ->
        t.under("op.ingest").toSeq.flatMap(t.aggs.get).map(_.jobs).sum.toDouble /
          math.max(w.size, 1),
      "sources.logs.rescan_waste_ratio" -> wasted.toDouble / math.max(fetched, 1L),
      "sources.logs.bytes_per_log" -> bytes.toDouble / math.max(stored.size, 1),
      "sources.logs.files_per_range" -> files.toDouble / math.max(ranges, 1),
      "sources.price.append_ms" -> Layers.queryMsPerSpan(t, "op.ingest", writesTo(prices)),
      "functions.abi.decode_rows_per_cpu_s" ->
        decodedRows / math.max(Layers.cpuSeconds(t, "functions.abi.decode"), 1e-9),
      "operators.eventviews.query_ms" -> Stats.median(Layers.spanMs(t, "operators.eventviews.query")),
      "operators.asof.query_ms" -> Stats.median(Layers.spanMs(t, "operators.asof.query")),
      "serving.graphql.execute_p50_ms" -> Stats.pct(gql, 50),
      "serving.graphql.execute_p90_ms" -> Stats.pct(gql, 90),
      "serving.graphql.jobs_per_request" -> gqlJobs.toDouble / math.max(gql.size, 1))
  }

  override def close(): Unit = node.close()
}

object EvmArchive {
  type Row = ((String, String, Long), (Boolean, String, String))
  val Contracts = 40
  val ZipfS = 1.1
  val LogsPerBlock = 12
  val Tokens = 3
  val InitialBlocks = 64L
  val BlockStep = 64L
  val BlocksPerTick = 8L
  val RescanDepth = 6L
  /** Re-orged blocks per tick, out of the RescanDepth re-pulled ones. */
  val ReorgsPerTick = 1

  private val Mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}
