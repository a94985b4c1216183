package graft
package queries

import graft.sinks.WarcShards
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import OracleFragments._

/** Streaming-drain queries: each runs a checkpointed Structured
  * Streaming drain end to end over a fresh fixture. */
object StreamingQueries {

  def all: Seq[QueryDef] = Seq(

    // Streaming drain under the gate (r13, the r12 verdict's #7): the
    // most complex machinery in the repo — WET shards → tail-follow
    // micro-batches → Gopher gate → incremental near-dup against the
    // accumulated corpus + index, across FOUR batches with checkpoint
    // commits between — drained with AvailableNow and its row-level
    // outcome put under the oracle hash. Planted exact copies
    // (doc_id % 17 == 3, +100000) land in different shards than their
    // originals (md5-prefix shard assignment), so the dedup decision
    // crosses batches. The output is the surviving corpus grouped by
    // CONTENT class (sorted distinct 3-word shingle set of the
    // normalized text — the dedup's own equivalence at
    // minJaccard = 1.0): exactly one survivor per class, regardless
    // of batch order or which member won. Batch semantics (resume,
    // replay, crash windows) stay spec territory; this gates that the
    // whole pipeline's DATA outcome equals the declarative rule.
    QueryDef("q124_crawl_drain", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q124").getAbsolutePath
      // hermetic re-runs: a stale checkpoint would serve zero batches
      // over a corpus some PREVIOUS build wrote
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      WarcShards.write(
        docs.unionByName(planted).select(
          col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          col("text").cast(BinaryType).as("p")),
        "k", "u", "p", s"$base/warc", nShards = 8)
      streaming.DocStream.curateWetCrawl(s, s"$base/warc",
          corpusDir = s"$base/corpus", indexDir = s"$base/index",
          checkpointDir = s"$base/ckpt",
          gate = streaming.DocStream.CrawlGate.Gopher(),
          minJaccard = 1.0, maxFilesPerTrigger = 2)
        .awaitTermination()
      s.read.parquet(s"$base/corpus")
        .select(col("doc_id"),
          functions.Text.tokens(functions.Text.normalized(col("text"))).as("_toks"))
        .select(col("doc_id"), col("_toks"),
          operators.Dedup.shinglesFromTokens(col("_toks"), 3).as("_sh"))
        .select(
          when(size(col("_toks")) < 3, concat(lit("doc:"), col("doc_id")))
            .otherwise(md5(concat_ws("\u001e",
              array_sort(array_distinct(col("_sh")))))).as("skey"),
          lit(1L).as("n_docs"))
        .groupBy(col("skey")).agg(sum(col("n_docs")).as("n_docs"))
        .orderBy(col("skey"))
    },
      // streaming-drain twin (r13, the r12 verdict's #7): the q124
      // fixture's kept CONTENT classes. Gopher keep over originals ∪
      // planted exact copies, then one row per distinct 3-word-shingle
      // SET with n_docs = 1 — at minJaccard = 1.0 the stream's LSH +
      // exact-verify drops a doc iff its shingle set EQUALS an earlier
      // one (identical signatures collide in every band, so the
      // candidate is certain, not probabilistic), hence every content
      // class must survive exactly once regardless of batch order or
      // which member wins. n_docs > 1 = dedup failure; a missing/extra
      // skey = quality-gate or streaming-machinery failure.
      s"""with docs as (select doc_id, text from documents
        |  union all
        |  select doc_id + 100000 as doc_id, text from documents
        |  where doc_id % 17 = 3),
        |${oracleGopherKeepCtes("docs")},
        |f as (select k.doc_id, $OracleNorm as norm
        |  from k join docs using (doc_id)),
        |w as (select doc_id, string_split(norm, ' ') as w from f),
        |sh as (select doc_id, case when len(w) < 3 then null else
        |    list_sort(list_distinct(list_transform(
        |      range(1, greatest(len(w) - 3 + 1, 0) + 1),
        |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) end as s
        |  from w),
        |ky as (select doc_id,
        |    coalesce(md5(array_to_string(s, chr(30))), 'doc:' || doc_id) as skey
        |  from sh)
        |select distinct skey, cast(1 as bigint) as n_docs from ky
        |order by skey""".stripMargin,
      tags = Set(Tag.Drain)),

    // Streaming RAW-crawl drain under the gate (r14, the r13
    // verdict's top ask): the q124 streaming-drain device over the
    // q125 raw fixture — response records with gzip-encoded HTML
    // envelopes (+ 404/png chaff) land as 8 WARC shards, the
    // tail-follow loop drains them in FOUR checkpointed micro-batches
    // through the full extraction chain (envelope split → inflate →
    // charset decode → stripHtml) → Gopher gate → incremental
    // near-dup at minJaccard = 1.0 (exact shingle-set equivalence —
    // batch-order-invariant, so the declarative twin is exact).
    // Planted exact copies (doc_id % 17 == 3, +100000) land in
    // different shards (md5-prefix shard assignment), so the dedup
    // decision crosses batches; in-stream index AND corpus compaction
    // (r15) run every 2 batches, putting their content-preservation
    // under the same hash. Output: one row per surviving content
    // class, n_docs = 1.
    QueryDef("q126_raw_crawl_drain", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q126").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      val u = docs.unionByName(planted)
      val wrapped = concat(
        lit("<html><head><script>var z = 1 < 2;</script>" +
          "<style>.a{color:red}</style></head><body><p>"),
        col("text"), lit("</p></body></html>"))
      val bodyBytes = graft.functions.HttpBody.gzipBytes(wrapped.cast(BinaryType))
      val status = when(col("doc_id") % 5 === 0, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val ctype = when(col("doc_id") % 7 === 0, lit("image/png"))
        .otherwise(lit("text/html; charset=UTF-8"))
      val envelope = concat(
        concat(lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: "), ctype,
          lit("\r\nContent-Encoding: gzip"),
          lit("\r\nContent-Length: "), octet_length(bodyBytes).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        bodyBytes)
      WarcShards.write(
        u.select(col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          envelope.as("p")),
        "k", "u", "p", s"$base/warc", nShards = 8,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      streaming.DocStream.curateRawCrawl(s, s"$base/warc",
          corpusDir = s"$base/corpus", indexDir = s"$base/index",
          checkpointDir = s"$base/ckpt",
          gate = streaming.DocStream.CrawlGate.Gopher(),
          minJaccard = 1.0, maxFilesPerTrigger = 2,
          compactEvery = 2, compactTargetFiles = 4,
          // corpus compaction (r15) runs inside the gate too — its
          // content preservation sits under the same hash
          corpusCompactEvery = 2, corpusCompactTargetFiles = 4)
        .awaitTermination()
      s.read.parquet(s"$base/corpus")
        .select(col("doc_id"),
          functions.Text.tokens(functions.Text.normalized(col("text"))).as("_toks"))
        .select(col("doc_id"), col("_toks"),
          operators.Dedup.shinglesFromTokens(col("_toks"), 3).as("_sh"))
        .select(
          when(size(col("_toks")) < 3, concat(lit("doc:"), col("doc_id")))
            .otherwise(md5(concat_ws("\u001e",
              array_sort(array_distinct(col("_sh")))))).as("skey"),
          lit(1L).as("n_docs"))
        .groupBy(col("skey")).agg(sum(col("n_docs")).as("n_docs"))
        .orderBy(col("skey"))
    },
      // streaming raw-crawl drain twin (r14): q125's visible-text
      // replay (whitespace collapse of the original — the corpus is
      // <>&-free) over originals ∪ planted copies with the chaff
      // filters on the UNIONED ids, then q124's content-class device:
      // at minJaccard = 1.0 exactly one survivor per distinct 3-shingle
      // set, whatever the batch order — n_docs > 1 = dedup failure, a
      // missing/extra skey = extraction-chain or gate failure
      s"""with u as (select doc_id, text from documents
        |  union all
        |  select doc_id + 100000 as doc_id, text from documents
        |  where doc_id % 17 = 3),
        |docs as (select doc_id,
        |    trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) as text
        |  from u where doc_id % 5 <> 0 and doc_id % 7 <> 0),
        |${oracleGopherKeepCtes("docs")},
        |f as (select k.doc_id, $OracleNorm as norm
        |  from k join docs using (doc_id)),
        |w as (select doc_id, string_split(norm, ' ') as w from f),
        |sh as (select doc_id, case when len(w) < 3 then null else
        |    list_sort(list_distinct(list_transform(
        |      range(1, greatest(len(w) - 3 + 1, 0) + 1),
        |      i -> array_to_string(list_slice(w, i, i + 2), ' ')))) end as s
        |  from w),
        |ky as (select doc_id,
        |    coalesce(md5(array_to_string(s, chr(30))), 'doc:' || doc_id) as skey
        |  from sh)
        |select distinct skey, cast(1 as bigint) as n_docs from ky
        |order by skey""".stripMargin,
      tags = Set(Tag.Drain)),

    // Streaming EMBEDDING drain under the gate (r15, the r14
    // verdict's #2): the modality matrix's last loop —
    // curateEmbeddingNearDup — drained over 7 shard files (4
    // checkpointed AvailableNow batches) with planted EXACT vector
    // copies landing 3 shards from their originals (100000 % 7 == 3),
    // so the dedup decision crosses batches through the persisted
    // banded LSH index; in-stream index AND corpus compaction run
    // every 2 batches under the same hash. The q124 device adapted to
    // vectors: at minCosine = 1 − 1e-7 the dedup equivalence over
    // this fixture is exact vector equality (identical copies score
    // 1 within fp rounding; the densest base pair sits at 0.52), so
    // the outcome is batch-order-invariant — exactly one survivor per
    // distinct vector. Survivors map back to their class by exact
    // vector join; the class id is the class's MIN doc_id (always the
    // original), so survivor identity washes out of the output.
    QueryDef("q129_embedding_drain", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q129").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val vecs = Tables(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"),
          col("embedding").cast("array<double>").as("vec"))
      val planted = vecs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000L).as("doc_id"), col("vec"))
      val u = vecs.unionByName(planted)
      for (sh <- 0 until 7)
        u.filter(pmod(col("doc_id"), lit(7)) === sh)
          .coalesce(1).write.mode("append").parquet(s"$base/in")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType),
        org.apache.spark.sql.types.StructField("vec",
          org.apache.spark.sql.types.ArrayType(DoubleType))))
      streaming.DocStream.curateEmbeddingNearDup(s,
          s.readStream.schema(schema).option("maxFilesPerTrigger", 2)
            .parquet(s"$base/in"),
          corpusDir = s"$base/corpus", indexDir = s"$base/index",
          checkpointDir = s"$base/ckpt",
          minCosine = 0.9999999, dim = 64, bands = 8,
          // ranges=4 (32 pblocks), not 16: recommendGeometry's own
          // rule for a ~5k-signature index — blocks near the scan
          // target, not 128 near-empty dirs taxing every append and
          // compaction (measured: ranges=16 spent ~6 s/run on pure
          // directory overhead). The dedup OUTCOME is geometry-
          // invariant, so the hash is unchanged; the banded layout
          // (pruned probes, marker, in-stream compaction) is still
          // exercised.
          indexBands = 8, indexRanges = 4,
          compactEvery = 2, compactTargetFiles = 4,
          corpusCompactEvery = 2, corpusCompactTargetFiles = 4,
          // signature-agreement pre-filter (r16): kills chance
          // band collisions before the vector-fetch joins; hash-safe
          // here by construction — every true survivor pair is an
          // exact vector copy (sig hamming 0), and t=24 is the
          // scaladoc's +5σ keep at cos 0.9
          maxSigHamming = Some(24))
        .awaitTermination()
      val classes = u.groupBy(col("vec")).agg(min(col("doc_id")).as("class_id"))
      s.read.parquet(s"$base/corpus").select(col("vec"))
        .join(classes, Seq("vec"))
        .groupBy(col("class_id")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("class_id"))
    },
      // streaming embedding-drain twin (r15): at minCosine = 1 − 1e-7
      // over base ∪ exact copies, the dedup equivalence is exact vector
      // equality and every class's survivor maps back to the class MIN
      // id — the original (copies are +100000) — so the expected drain
      // is simply one row per original vector, n_docs = 1, whatever the
      // batch order. A kept duplicate doubles its class count; a lost
      // or merged class drops a row.
      """select vec_id as class_id, cast(1 as bigint) as n_docs
        |from embeddings order by class_id""".stripMargin,
      tags = Set(Tag.Drain)),

    // Streaming MEDIA drain under the gate (r15, the r14 verdict's
    // #3 — curateMediaNearDup had no CORRECTNESS row): a q126-style
    // 4-batch image drain with planted byte-identical copies landing
    // 3 shards from their originals, at maxDistance = 0 where hamming
    // dedup is EXACT signature equality — batch-order-invariant, one
    // survivor per signature class. The fixture is built for the
    // gate: 9×8 grayscale PNGs whose pixel rows encode the doc_id's
    // bits as ±1 steps, so the decoded dHash (identity thumbnail at
    // 9×8, adjacent-pixel compare, MSB-first packing) IS the doc_id's
    // bit pattern — distinct per original (the q111 gradient formula
    // is too hash-correlated for a dedup gate: 42 classes over 480
    // docs), and fully twin-expressible from integer arithmetic.
    // In-stream index + corpus compaction run every 2 batches under
    // the hash. The corpus carries `sigs`; the output renders each
    // survivor's signature as the 16-hex MSB-first bytes (the 64-bit
    // gate convention) — a decode, packing, kernel, replay or
    // compaction bug changes the class set or a count.
    QueryDef("q130_media_drain", { (s, dir) =>
      import s.implicits._
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q130").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val ids = docs.unionByName(docs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000L).as("doc_id")))
      // content derives from the ORIGINAL id (id % 100000), so a
      // planted copy is byte-identical to its original
      val media = ids.as[Long].map { id =>
        val key = id % 100000L
        def bit(y: Int, x: Int): Int = ((key >> (y * 8 + x)) & 1L).toInt
        def pix(x: Int, y: Int): Int =
          128 + (0 until x).map(i => 2 * bit(y, i) - 1).sum
        (id, operators.Multimodal.MiniEncoder.pngGray(9, 8, pix))
      }.toDF("doc_id", "content")
      for (sh <- 0 until 7)
        media.filter(pmod(col("doc_id"), lit(7)) === sh)
          .coalesce(1).write.mode("append").parquet(s"$base/in")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType)))
      streaming.DocStream.curateMediaNearDup(s,
          s.readStream.schema(schema).option("maxFilesPerTrigger", 2)
            .parquet(s"$base/in"),
          corpusDir = s"$base/corpus", indexDir = s"$base/index",
          checkpointDir = s"$base/ckpt",
          kind = "image", maxDistance = 0, bands = 8,
          indexBands = 8, indexRanges = 16,
          compactEvery = 2, compactTargetFiles = 4,
          corpusCompactEvery = 2, corpusCompactTargetFiles = 4)
        .awaitTermination()
      s.read.parquet(s"$base/corpus")
        .select(explode(col("sigs")).as("_s"))
        .select(lower(lpad(hex(col("_s.sh")), 16, "0")).as("skey"))
        .groupBy(col("skey")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("skey"))
    },
      // streaming media-drain twin (r15): the fixture's dHash IS the
      // doc_id's bit pattern (±1-step pixel rows through the identity
      // 9×8 thumbnail), so the expected drain is one survivor per
      // ORIGINAL id, keyed by the 16-hex MSB-first byte rendering of
      // that pattern — re-derived here from pure integer arithmetic
      // (byte y = Σ_x bit(y·8+x) << (7−x), rows MSB-first)
      """with b as (select doc_id, y.y, x.x,
        |    cast((doc_id >> (y.y * 8 + x.x)) & 1 as int) as bit
        |  from documents, range(0, 8) y(y), range(0, 8) x(x)),
        |rb as (select doc_id, y,
        |    cast(sum(bit * (1 << (7 - x))) as int) as byte
        |  from b group by doc_id, y),
        |hx as (select doc_id,
        |    string_agg(printf('%02x', byte), '' order by y) as skey
        |  from rb group by doc_id)
        |select skey, cast(1 as bigint) as n_docs from hx
        |order by skey""".stripMargin,
      tags = Set(Tag.Drain)),

    // Robots-gated raw-crawl drain (r15): the politeness stream's
    // data outcome under the hash — 3 ordered segments (robots for
    // hosts 0-3 → one page per doc → a late disallow-all for host 4
    // plus host-4 pages in that same batch). Rules gate FORWARD only:
    // batch-b pages of hosts 0-3 under /blk/ die against batch-a
    // rules, host-4-7 /blk/ pages are admitted (no capture yet), and
    // batch-c's late pages die against the capture merged in their
    // own batch — already-admitted host-4 pages stay (politeness is
    // forward-looking, not retroactive). Page bodies are synthetic
    // uniques, so the near-dup layer admits everything and the
    // outcome is pure robots arithmetic — which is what the twin
    // re-derives.
    QueryDef("q135_robots_drain", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q135").getAbsolutePath
      val hfs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(base), true)
      hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$base/in"))
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      def env(ctype: String, body: Column): Column = concat(
        concat(lit(s"HTTP/1.1 200 OK\r\nContent-Type: $ctype\r\nContent-Length: "),
          octet_length(body.cast(BinaryType)).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        body.cast(BinaryType))
      val host = concat(lit("r"), (col("doc_id") % 8).cast(StringType), lit(".example"))
      val ra = docs.filter(col("doc_id") < 4).select(
        concat(lit("ra"), col("doc_id").cast(StringType)).as("k"),
        concat(lit("http://r"), col("doc_id").cast(StringType),
          lit(".example/robots.txt")).as("u"),
        env("text/plain", lit("User-agent: *\nDisallow: /blk/\n")).as("p"))
      val path = when(col("doc_id") % 3 === 0,
          concat(lit("/blk/p"), col("doc_id").cast(StringType)))
        .otherwise(concat(lit("/ok/p"), col("doc_id").cast(StringType)))
      val pb = docs.select(
        concat(lit("pb"), col("doc_id").cast(StringType)).as("k"),
        concat(lit("http://"), host, path).as("u"),
        env("text/html", concat(lit("<html>unique page body number "),
          col("doc_id").cast(StringType), lit(" marker "),
          ((col("doc_id") * 7919) % 104729).cast(StringType),
          lit(" end</html>"))).as("p"))
      val rc = docs.filter(col("doc_id") === 4).select(
        lit("rc4").as("k"), lit("http://r4.example/robots.txt").as("u"),
        env("text/plain", lit("User-agent: *\nDisallow: /\n")).as("p"))
      val late = docs.filter(col("doc_id") % 8 === 4).select(
        concat(lit("pc"), col("doc_id").cast(StringType)).as("k"),
        concat(lit("http://r4.example/late/p"),
          (col("doc_id") + 100000).cast(StringType)).as("u"),
        env("text/html", concat(lit("<html>late unique body "),
          (col("doc_id") + 100000).cast(StringType), lit(" tail</html>"))).as("p"))
      def seg(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val tmp = s"$base/tmp_$name"
        WarcShards.write(df, "k", "u", "p", tmp, nShards = 1,
          warcType = "response",
          contentType = "application/http; msgtype=response")
        for (f <- hfs.listStatus(new org.apache.hadoop.fs.Path(tmp))
             if f.getPath.getName.endsWith(".warc.gz"))
          hfs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(s"$base/in/$name-${f.getPath.getName}"))
      }
      seg("a", ra)
      seg("b", pb)
      seg("c", rc.unionByName(late))
      streaming.DocStream.curateRawCrawl(s, s"$base/in",
          s"$base/corpus", s"$base/index", s"$base/ckpt",
          gate = streaming.DocStream.CrawlGate.Quality(0.0),
          minJaccard = 0.95, maxFilesPerTrigger = 1,
          robotsRulesDir = Some(s"$base/rules"))
        .awaitTermination()
      s.read.parquet(s"$base/corpus")
        .select(col("target_uri")).orderBy(col("target_uri"))
    },
      // robots-drain twin (r15): the drained corpus is pure robots
      // arithmetic — batch-b pages survive unless their host captured
      // a /blk/ rule in batch a; every batch-c late page dies against
      // the disallow-all merged in its own batch (none appear here)
      """select 'http://r' || (doc_id % 8) || '.example'
        |  || case when doc_id % 3 = 0 then '/blk/p' else '/ok/p' end
        |  || doc_id as target_uri
        |from documents
        |where not (doc_id % 8 in (0, 1, 2, 3) and doc_id % 3 = 0)
        |order by target_uri""".stripMargin,
      tags = Set(Tag.Drain))
  )
}
