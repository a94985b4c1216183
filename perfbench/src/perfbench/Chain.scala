package perfbench

import graft.operators.EventViews
import scala.collection.mutable

/** A seeded EVM chain whose logs use the ten reference event views.
  *
  * Each block has a version; a reorg bumps it, which changes the block
  * hash and regenerates the block's logs. The node serves a block as
  * its current logs plus every earlier version's logs marked
  * `removed: true` (same primary key as when they were first served),
  * which is what lets the archive's canonical read resolve the reorg.
  */
final class Chain(val seed: Long, val nContracts: Int, val logsPerBlock: Int,
    val zipfS: Double, val nTokens: Int) {
  import Chain._

  val contracts: IndexedSeq[String] = (0 until nContracts).map(Gen.address(seed, "contract", _))
  /** The most active contracts are the priced tokens. */
  val tokens: IndexedSeq[String] = contracts.take(nTokens)
  val oracles: IndexedSeq[String] = (0 until nTokens).map(Gen.address(seed, "oracle", _))
  private val users = (0 until 64).map(Gen.address(seed, "user", _))
  private val zipf = new Gen.Zipf(nContracts, zipfS)
  private val version = mutable.Map[Long, Int]().withDefaultValue(0)
  private val cache = mutable.Map[(Long, Int), IndexedSeq[Log]]()

  def versionOf(block: Long): Int = version(block)
  def reorg(block: Long): Unit = version(block) = version(block) + 1

  def blockHash(block: Long, v: Int): String = "0x" + Gen.sha256Hex(s"$seed/block/$block/$v")

  def logs(block: Long, v: Int): IndexedSeq[Log] = cache.getOrElseUpdate((block, v), {
    val r = Gen.rng(seed, block, v)
    // a fixed count, so every seed gives the same volume of work
    val n = logsPerBlock
    val hash = blockHash(block, v)
    (0 until n).map { i =>
      val ev = pickEvent(r)
      val (idx, unidx) = ev.fields.partition(_.indexed)
      val topics = ev.sigHash +: idx.map(_ => "0x" + "0" * 24 + users(r.nextInt(users.size)).drop(2))
      val words = unidx.map(_ => BigInt(60, new scala.util.Random(r.nextLong())))
      val tx = "0x" + Gen.sha256Hex(s"$seed/tx/$block/$v/${i / 3}")
      Log(contracts(zipf.sample(r)), topics, words, hash, block, tx, i / 3, i, ev)
    }
  })

  def currentLogs(block: Long): IndexedSeq[Log] = logs(block, version(block))

  /** The block as the node serves it: current logs, then tombstones. */
  def served(block: Long): Seq[(Log, Boolean)] =
    currentLogs(block).map(_ -> false) ++
      (0 until version(block)).flatMap(v => logs(block, v).map(_ -> true))

  def price(token: String, block: Long): BigInt =
    BigInt(100000000L) * (100 + math.abs(Gen.mix(Gen.mix(seed ^ block) ^ token.hashCode) % 900))

  private def pickEvent(r: java.util.SplittableRandom): EventViews.EventDef = {
    val u = r.nextInt(100)
    if (u < 50) Transfer
    else if (u < 62) byName("Approval")
    else if (u < 70) byName("Deposit")
    else if (u < 77) byName("Withdraw")
    else Others(r.nextInt(Others.size))
  }
}

object Chain {
  final case class Log(address: String, topics: Seq[String], words: Seq[BigInt],
      blockHash: String, block: Long, txHash: String, txIndex: Int, logIndex: Int,
      event: EventViews.EventDef) {
    def data: String = if (words.isEmpty) null else "0x" + words.map(Gen.hexWord).mkString
    def pk: (String, String, Long) = (blockHash, txHash, logIndex.toLong)
    def json(removed: Boolean): String = {
      val t = topics.map(x => "\"" + x + "\"").mkString("[", ",", "]")
      s"""{"address":"$address","topics":$t,"data":"${Option(data).getOrElse("0x")}",""" +
        s""""blockHash":"$blockHash","blockNumber":"0x${block.toHexString}",""" +
        s""""transactionHash":"$txHash","transactionIndex":"0x${txIndex.toHexString}",""" +
        s""""logIndex":"0x${logIndex.toHexString}","removed":$removed}"""
    }
  }

  def byName(prefix: String): EventViews.EventDef =
    EventViews.referenceViews.find(_.viewName.startsWith(prefix + "_")).get
  val Transfer: EventViews.EventDef = byName("Transfer")
  private val Others = EventViews.referenceViews.filterNot(e =>
    Seq("Transfer_", "Approval_", "Deposit_", "Withdraw_").exists(e.viewName.startsWith))
}
