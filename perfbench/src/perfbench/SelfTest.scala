package perfbench

/** The benchmark's own tests: inputs are a pure function of the seed,
  * and every output check rejects a deliberately wrong answer.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val r = try ok catch { case e: Throwable => System.err.println(e); false }
    if (!r) failures += 1
    println(s"${if (r) "PASS" else "FAIL"} $name")
  }

  private def chainDigest(seed: Long): String = {
    val c = new Chain(seed, EvmArchive.Contracts, EvmArchive.LogsPerBlock, EvmArchive.ZipfS,
      EvmArchive.Tokens)
    (1L to 40L).foreach(b => if (b % 7 == 0) c.reorg(b))
    Gen.digest((1L to 40L).iterator.flatMap(c.served).map { case (l, r) => l.json(r).getBytes("UTF-8") })
  }

  private def backlogDigest(seed: Long): String =
    Gen.digest(Backlog(seed).records.iterator.flatMap(r => Iterator(r._1.getBytes, r._2.getBytes, r._3)))

  private def corpusDigest(seed: Long): String = {
    val c = Corpus(seed, 200, 0.1, 0)
    Gen.digest(c.pages.iterator.map(_._3) ++ c.docs.iterator.map(_.text.getBytes("UTF-8")))
  }

  private def filesDigest(dir: String): String = {
    val files = new java.io.File(dir).listFiles().filter(_.getName.startsWith("shard-")).sortBy(_.getName)
    Gen.digest(files.iterator.flatMap(f => Iterator(f.getName.getBytes, java.nio.file.Files.readAllBytes(f.toPath))))
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)

    // ---- determinism of the generated inputs --------------------------
    for ((what, digest) <- Seq[(String, Long => String)](
        "chain" -> chainDigest, "drain backlog" -> backlogDigest, "corpus" -> corpusDigest)) {
      test(s"$what: same seed, same bytes")(digest(1) == digest(1))
      test(s"$what: another seed, other bytes")(digest(1) != digest(2))
    }

    val spark = Main.session(2, work)
    val ctx = new Ctx(spark, Trace.Off, work, 1L)
    try {
      // the staged WARC shards, written by the program's writer, repeat byte for byte
      val a = new CurationDrain(1L)
      a.setup(ctx, 0)
      val b = new CurationDrain(1L)
      b.setup(ctx, 1)
      test("staged WARC shards: same seed, same bytes")(
        filesDigest(ctx.path("drain/warc-0")) == filesDigest(ctx.path("drain/warc-1")))

      // ---- curation_drain: the survivor check --------------------------
      CurationDrain.run(spark, ctx.path("drain/warc-0"), ctx.path("drain/out"))
      val uris = CurationDrain.corpusUris(spark, ctx.path("drain/out"))
      val bl = a.backlog
      test("drain: the real corpus passes")(bl.survivorsOk(uris))
      test("drain: a corpus with one survivor removed fails")(!bl.survivorsOk(uris.tail))
      val copyOfKept = bl.pages.find(p => p._4 >= 0 && !uris.contains(p._2) &&
        uris.exists(u => bl.pages.exists(q => q._2 == u && q._4 == p._4))).map(_._2)
      test("drain: a corpus with a kept copy fails")(copyOfKept.exists(c => !bl.survivorsOk(uris :+ c)))
      test("drain: a corpus with chaff fails")(
        !bl.survivorsOk(uris.tail :+ bl.pages.find(_._4 < 0).get._2))

      // ---- evm_archive: table and query checks --------------------------
      val evm = new EvmArchive(1L)
      evm.setup(ctx, 0)
      evm.step(ctx)
      evm.step(ctx)
      test("evm: setup and two ticks pass every check")(ctx.failed == 0)
      val rows = evm.archivedRows(ctx)
      def allOk(rs: Seq[EvmArchive.Row]) = evm.tableChecks(rs).forall(_._2)
      test("evm: the real archive passes")(allOk(rows))
      test("evm: an archive missing one row fails")(!allOk(rows.tail))
      test("evm: a duplicated PK fails")(!allOk(rows :+ rows.head))
      val tomb = rows.find(_._2._1)
      test("evm: a reorged row left live fails")(
        tomb.exists(t => !allOk(rows.map(r => if (r == t) (t._1, t._2.copy(_1 = false)) else r))))
      val totals = evm.transferTotals(ctx)
      val (c0, (v0, n0)) = totals.head
      test("evm: the real transfer totals pass")(totals == evm.expectedTotals)
      test("evm: transfer totals off by one wei fail")(totals.updated(c0, (v0 + 1, n0)) != evm.expectedTotals)
      test("evm: a missing contract fails")(totals - c0 != evm.expectedTotals)
      evm.close()

      // ---- corpus_batch: pairs, clusters, decode -------------------------
      val cb = new CorpusBatch(1L)
      cb.setup(ctx, 0)
      val before = ctx.failed
      cb.warmup(ctx)
      test("corpus: the real outputs pass")(ctx.failed == before)
      val planted = cb.corpus.nearPairs.filter(_._3 >= CorpusBatch.MinJaccard).map(p => (p._1, p._2))
      val below = cb.corpus.nearPairs.filter(_._3 < CorpusBatch.MinJaccard).map(p => (p._1, p._2))
      test("corpus: planted pairs on both sides of the threshold")(planted.nonEmpty && below.nonEmpty)
      test("corpus: the planted pairs pass, reversed too")(
        cb.pairsOk(planted) && cb.pairsOk(planted.map(_.swap)))
      test("corpus: a missed planted pair fails")(!cb.pairsOk(planted.tail))
      test("corpus: a below-threshold pair fails")(!cb.pairsOk(planted :+ below.head))
      test("corpus: a wrong cluster label fails")(
        !cb.clustersOk(planted.flatMap { case (x, y) => Seq(x -> x, y -> y) }))
      val decoded = cb.corpus.docs.map(d => cb.corpus.uri(d.id) -> d.text).toMap
      test("corpus: a mis-decoded page fails")(
        !cb.decodeOk(decoded.updated(decoded.head._1, decoded.head._2 + "é")))
    } finally spark.stop()

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
