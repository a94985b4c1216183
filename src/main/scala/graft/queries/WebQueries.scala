package graft
package queries

import graft.functions.Text
import graft.operators.{Corpus, Links}
import graft.sinks.WarcShards
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import OracleFragments._

/** Web and crawl queries: WARC/WET extraction, robots, sitemaps, links,
  * PageRank, the frontier, registered domains and main-content
  * extraction. */
object WebQueries {

  /** Shared q137/q138 fixture: one synthetic page per document with
    * the five resolvable href forms (double-quoted rooted,
    * single-quoted `../`, unquoted `./`, absolute with entity +
    * fragment, scheme-relative) plus a `mailto:` and a fragment-only
    * anchor that must be dropped. Twin-replayable arithmetic. */
  private def OutlinkFixture(spark: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast(StringType)
    Tables(spark, dir, "documents").select(
      concat(lit("http://d"), (col("doc_id") % 6).cast(StringType),
        lit(".example/a/b/p"), id, lit(".html")).as("page_url"),
      concat(
        lit("<html><body><a href=\"/r"), id,
        lit("\">one</a>\n<a href='../u"), (col("doc_id") % 9).cast(StringType),
        lit("'>two</a>\n<a href=./s"), (col("doc_id") * 2).cast(StringType),
        lit(">three</a>\n<A HREF=\"http://x"), (col("doc_id") % 4).cast(StringType),
        lit(".example/abs?q="), id,
        lit("&amp;z=1#frag\">four</A>\n<a href=\"//c"), (col("doc_id") % 3).cast(StringType),
        lit(".example/cdn\">five</a>\n<a rel=\"nofollow external\" href=\"/nf"), id,
        lit("\">six</a>\n<a href=\"mailto:a@b.example\">m</a>" +
          "<a href=\"#top\">t</a></body></html>")).as("html"))
  }

  def all: Seq[QueryDef] = Seq(

    // Raw-crawl capstone (r13): the q120 story WITHOUT a WET sibling —
    // response records with gzip-encoded HTML bodies → transfer
    // decode → charset decode → stripHtml → Gopher keep, under ONE
    // hash. The fixture wraps each document in tags + a script body
    // (whose '<' inside code exercises the non-greedy script strip)
    // and gzips it; non-200 and non-text rows are chaff the filters
    // must drop. The twin replays the visible text as the
    // whitespace-collapse of the original (the corpus is <>&-free,
    // verified at both SFs) and reuses the shared Gopher CTE chain.
    QueryDef("q125_raw_crawl_pipeline", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q125").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents")
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
        docs.select(col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          envelope.as("p")),
        "k", "u", "p", base, nShards = 8,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      val pages = graft.sources.WarcSource.crawlText(s, base)
        .select(col("target_uri").substr(lit(15), lit(1000000))
          .cast(LongType).as("doc_id"), col("text"))
      Corpus.gopherSignals(pages, "doc_id", "text")
        .filter(col("keep"))
        .select(col("id").as("doc_id"), col("n_words"), col("mean_word_len"))
        .orderBy(col("doc_id"))
    },
      // raw-crawl twin: visible text = whitespace-collapse of the
      // original (tags/script/style strip leaves exactly the document
      // text — the corpus is <>&-free), then the shared Gopher chain
      s"""with docs as (select doc_id,
        |    trim(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) as text
        |  from documents where doc_id % 5 <> 0 and doc_id % 7 <> 0),
        |${oracleGopherKeepCtes("docs")}
        |select doc_id, n_words, mean_word_len from k
        |order by doc_id""".stripMargin),

    // Capstone: the whole curation pipeline composed in ONE plan —
    // quality filter (bit-exact doubles, so the 0.5 threshold
    // classifies identically cross-engine) → exact dedup (lowest
    // Crawl-health profile under the gate (r14, the r13 verdict's
    // "missing #3"): a deterministic segment matrix — 404/500 chaff,
    // png chaff, unknown charset, GBK xhtml, gzip Content-Encoding,
    // chunked Transfer-Encoding, corrupt chunk framing, declared /
    // meta-sniffed / defaulted charsets — written as 8 WARC shards,
    // profiled per shard by Corpus.crawlHealth. The twin re-derives
    // every counter from the branch arithmetic plus the md5-prefix
    // shard rule, so a bug in any decode layer's null contract, the
    // eligibility filter, the charset-provenance split, or the
    // aggregate itself moves a count and breaks the hash.
    QueryDef("q127_crawl_health", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q127").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents")
      val e0 = col("doc_id") % 7 =!= 0 && col("doc_id") % 11 =!= 0 &&
        col("doc_id") % 13 =!= 0
      val gzB = e0 && col("doc_id") % 19 === 0
      val e1 = e0 && col("doc_id") % 19 =!= 0
      val chB = e1 && col("doc_id") % 23 === 0
      val e2 = e1 && col("doc_id") % 23 =!= 0
      val badB = e2 && col("doc_id") % 31 === 0
      val e3 = e2 && col("doc_id") % 31 =!= 0
      // bodyless 2xx arm (r15): an eligible response with an empty
      // body — counted in n_no_body, never in n_decode_null, and
      // never a page (the absent-vs-corrupt distinction under the hash)
      val nbB = e3 && col("doc_id") % 29 === 0
      val e4 = e3 && col("doc_id") % 29 =!= 0
      // zstd arm (r17): a supported coding since zstd-jni rode in —
      // counted in n_enc_zstd and decoded all the way to a page
      val zsB = e4 && col("doc_id") % 37 === 0
      val e5 = e4 && col("doc_id") % 37 =!= 0
      // brotli arm (r17 refusal → r18 DECODE): since the vendored
      // RFC 7932 decoder rode in, br bodies inflate all the way to
      // pages and count under their own n_enc_br
      val brB = e5 && col("doc_id") % 41 === 0
      val e6 = e5 && col("doc_id") % 41 =!= 0
      // unsupported-coding arm (r18): `compress` keeps the refusal
      // path exercised now that br decodes — counted in
      // n_unsupported_encoding AND n_decode_null, never a page
      val cpB = e6 && col("doc_id") % 43 === 0
      val metaB = e3 && col("doc_id") % 3 === 1 && col("doc_id") % 2 === 1
      val ctype = when(col("doc_id") % 7 === 0, lit("image/png"))
        .when(col("doc_id") % 11 === 0, lit("text/html; charset=klingon"))
        .when(col("doc_id") % 13 === 0, lit("application/xhtml+xml; charset=GBK"))
        .when(col("doc_id") % 19 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 23 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 31 === 0, lit("text/html; charset=UTF-8"))
        // the r17 coding arms declare their charset so provenance
        // stays a clean three-way split on the %3 rows below
        .when(col("doc_id") % 37 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 41 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 43 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 3 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 3 === 1, lit("text/plain"))
        .otherwise(lit("text/html; charset=shift_jis"))
      val bodyText = when(metaB,
        concat(lit("<meta charset=\"windows-1250\">"), col("text")))
        .otherwise(col("text"))
      def chunkFrame(b: Column): Column = concat(
        concat(lower(hex(octet_length(b))), lit("\r\n")).cast(BinaryType),
        b, lit("\r\n0\r\n\r\n").cast(BinaryType))
      val bodyBytes = when(gzB,
          graft.functions.HttpBody.gzipBytes(col("text").cast(BinaryType)))
        .when(chB, chunkFrame(col("text").cast(BinaryType)))
        .when(badB, concat(lit("ZZ\r\n").cast(BinaryType),
          col("text").cast(BinaryType)))
        .when(nbB, lit("").cast(BinaryType))
        .when(zsB, graft.functions.HttpBody.zstdBytes(col("text").cast(BinaryType)))
        .when(brB, graft.functions.HttpBody.brotliBytes(col("text").cast(BinaryType)))
        .when(cpB, col("text").cast(BinaryType))
        .otherwise(bodyText.cast(BinaryType))
      val status = when(col("doc_id") % 5 === 0, lit("404 Not Found"))
        .when(col("doc_id") % 5 === 1, lit("500 Oops"))
        .otherwise(lit("200 OK"))
      val envelope = concat(
        concat(lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: "), ctype,
          when(gzB, lit("\r\nContent-Encoding: gzip"))
            .when(zsB, lit("\r\nContent-Encoding: zstd"))
            .when(brB, lit("\r\nContent-Encoding: br"))
            .when(cpB, lit("\r\nContent-Encoding: compress"))
            .otherwise(lit("")),
          when(chB || badB, lit("\r\nTransfer-Encoding: chunked"))
            .otherwise(lit("")),
          lit("\r\nContent-Length: "), octet_length(bodyBytes).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        bodyBytes)
      WarcShards.write(
        docs.select(col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          envelope.as("p")),
        "k", "u", "p", base, nShards = 8,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      Corpus.crawlHealth(s, base)
        .withColumn("shard", col("shard").cast(LongType))
        .orderBy(col("shard"))
    },
      // crawl-health twin (r14; bodyless arm r15; coding arms r17;
      // br decode + compress refusal r18): every counter re-derived
      // from the fixture's branch arithmetic + the sink's md5-prefix
      // shard rule (TarShards.shardOf). eligible = 2xx non-png;
      // decoded = eligible minus the corrupt-chunked, bodyless and
      // refused-coding (compress) arms; zstd AND br rows inflate to
      // pages (br via the vendored RFC 7932 decoder); charset
      // provenance splits the text/plain rows by the meta-injection
      // parity (the coding arms declare UTF-8, so they leave the plain
      // split); the unknown charset (klingon) rows are the
      // charset-nulls, everything else decoded becomes a page
      """with d as (select doc_id,
        |    ('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 8 as shard,
        |    (doc_id % 7 <> 0 and doc_id % 11 <> 0 and doc_id % 13 <> 0) as e0
        |  from documents),
        |f as (select shard, doc_id,
        |    (e0 and doc_id % 19 = 0) as gzb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 = 0) as chb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 = 0) as badb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 29 = 0) as nbb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 29 <> 0 and doc_id % 37 = 0) as zsb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 29 <> 0 and doc_id % 37 <> 0 and doc_id % 41 = 0) as brb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 29 <> 0 and doc_id % 37 <> 0 and doc_id % 41 <> 0
        |      and doc_id % 43 = 0) as cpb,
        |    (e0 and doc_id % 19 <> 0 and doc_id % 23 <> 0 and doc_id % 31 <> 0
        |      and doc_id % 37 <> 0 and doc_id % 41 <> 0 and doc_id % 43 <> 0
        |      and doc_id % 3 = 1) as plain1,
        |    (doc_id % 5 <> 0 and doc_id % 5 <> 1) as ok2,
        |    (doc_id % 5 = 0) as s4, (doc_id % 5 = 1) as s5,
        |    (doc_id % 7 = 0) as png, (doc_id % 11 = 0) as kling
        |  from d),
        |g as (select shard, doc_id, gzb, chb, badb, nbb, zsb, brb, cpb, kling, plain1, ok2, s4, s5,
        |    (ok2 and not png) as elig,
        |    (ok2 and not png and not badb and not nbb and not cpb) as dec
        |  from f)
        |select shard,
        |  cast(count(*) as bigint) as n_records,
        |  cast(count(*) as bigint) as n_response,
        |  cast(0 as bigint) as n_conversion,
        |  cast(0 as bigint) as n_other,
        |  cast(0 as bigint) as n_unparsed,
        |  cast(sum(case when ok2 then 1 else 0 end) as bigint) as n_2xx,
        |  cast(0 as bigint) as n_3xx,
        |  cast(sum(case when s4 then 1 else 0 end) as bigint) as n_4xx,
        |  cast(sum(case when s5 then 1 else 0 end) as bigint) as n_5xx,
        |  cast(sum(case when elig then 1 else 0 end) as bigint) as n_eligible,
        |  cast(sum(case when elig and gzb then 1 else 0 end) as bigint) as n_enc_gzip,
        |  cast(0 as bigint) as n_enc_deflate,
        |  cast(sum(case when elig and zsb then 1 else 0 end) as bigint) as n_enc_zstd,
        |  cast(sum(case when elig and brb then 1 else 0 end) as bigint) as n_enc_br,
        |  cast(sum(case when elig and cpb then 1 else 0 end) as bigint) as n_unsupported_encoding,
        |  cast(sum(case when elig and (chb or badb) then 1 else 0 end) as bigint) as n_chunked,
        |  cast(sum(case when elig and nbb then 1 else 0 end) as bigint) as n_no_body,
        |  cast(sum(case when elig and (badb or cpb) then 1 else 0 end) as bigint) as n_decode_null,
        |  cast(sum(case when dec and not plain1 then 1 else 0 end) as bigint) as n_cs_declared,
        |  cast(sum(case when dec and plain1 and doc_id % 2 = 1 then 1 else 0 end) as bigint) as n_cs_sniffed,
        |  cast(sum(case when dec and plain1 and doc_id % 2 = 0 then 1 else 0 end) as bigint) as n_cs_defaulted,
        |  cast(sum(case when dec and kling then 1 else 0 end) as bigint) as n_charset_null,
        |  cast(sum(case when dec and not kling then 1 else 0 end) as bigint) as n_pages
        |from g
        |group by shard
        |order by shard""".stripMargin),

    // RFC 9309 robots exclusion end-to-end (r15): a WARC fixture
    // carries each host's own captured /robots.txt response beside
    // its pages — Robots.rules PARSES real bytes (group semantics,
    // multi-UA groups, case-folded product tokens, comments, empty
    // Disallow dropped, wildcards, a 404 robots ignored, leading
    // rules before any User-agent ignored) and Robots.gate applies
    // longest-match precedence with allow-wins-ties. Gated as
    // "graftbot", so host 3 exercises specific-group-beats-star. The
    // twin re-derives the RULE TABLE and every verdict from the
    // fixture's arithmetic (the q127 device) — a parser or
    // precedence bug anywhere changes verdicts and breaks the hash.
    QueryDef("q131_robots_gate", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q131").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      def env(status: Column, ctype: String, body: Column): Column = concat(
        concat(lit("HTTP/1.1 "), status,
          lit(s"\r\nContent-Type: $ctype\r\nContent-Length: "),
          octet_length(body.cast(BinaryType)).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        body.cast(BinaryType))
      val host = concat(lit("h"), (col("doc_id") % 10).cast(StringType), lit(".example"))
      val paths = array(lit("/"), lit("/private/x.html"), lit("/private/ok/y"),
        lit("/img/z.png"), lit("/tmp/a"), lit("/tmpfile"), lit("/all/p"),
        lit("/graft/q"), lit("/x/y.html"), lit("/a/b/c"), lit("/t/u"), lit("/only/v"))
      val pages = docs.select(
        col("doc_id").cast(StringType).as("k"),
        concat(lit("http://"), host,
          element_at(paths, (col("doc_id") % 12).cast(IntegerType) + 1)).as("u"),
        env(lit("200 OK"), "text/html; charset=UTF-8", lit("<html>page</html>")).as("p"))
      val robotsBody = when(col("doc_id") === 0,
          lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"))
        .when(col("doc_id") === 1, lit("User-agent: *\nDisallow: /\n"))
        .when(col("doc_id") === 2,
          lit("User-agent: *\nDisallow: /*.png$\nDisallow: /tmp*\n"))
        .when(col("doc_id") === 3,
          lit("User-Agent: GraftBot\nDisallow: /graft/\n\nUser-agent: *\nDisallow: /\n"))
        .when(col("doc_id") === 4,
          lit("User-agent: fooBot\nUser-agent: *\nDisallow: /x/\nAllow: /x/y\n"))
        .when(col("doc_id") === 5,
          lit("# robots for h5\nUser-agent: *\nDisallow:\n\nSitemap: http://h5.example/sm.xml\n"))
        .when(col("doc_id") === 6,
          lit("User-agent: *\nDisallow: /t/\nAllow: /t/\nDisallow: /a/\nAllow: /a/b/\n"))
        .when(col("doc_id") === 7, lit("Disallow: /\nUser-agent: *\nDisallow: /only/\n"))
        .otherwise(lit("User-agent: *\nDisallow: /\n")) // h8: behind a 404 — ignored
      val robotsStatus = when(col("doc_id") === 8, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val robots = docs.filter(col("doc_id") < 9).select(
        concat(lit("r"), col("doc_id").cast(StringType)).as("k"),
        concat(lit("http://"), host, lit("/robots.txt")).as("u"),
        env(robotsStatus, "text/plain", robotsBody).as("p"))
      WarcShards.write(
        robots.unionByName(pages),
        "k", "u", "p", base, nShards = 4,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      val crawl = s.read.format("graft.sources.WarcSource").option("path", base).load()
      val rules = operators.Robots.rulesOf(crawl, agent = "graftbot")
      val pageRows = crawl.filter(col("warc_type") === "response" &&
          lower(operators.Robots.pathOf(col("target_uri"))) =!= "/robots.txt")
        .select(col("target_uri"))
      operators.Robots.gate(pageRows, rules, "target_uri")
        .select(col("target_uri"), col("allowed"), col("rule"), col("pattern"))
        .orderBy(col("target_uri"))
    },
      // robots-gate twin (r15): the rule table the parser must extract
      // from the fixture's robots bytes, re-stated as literals (with
      // each pattern's compiled regex), and the same longest-match /
      // allow-wins-tie precedence over the arithmetically re-derived
      // page urls. Hosts 5 (empty Disallow), 8 (404 robots) and 9 (no
      // robots) contribute no rules — allowed with null rule columns.
      // Host 3 carries a graftbot-specific group, so its star group is
      // absent here (the gate runs as "graftbot").
      """with pages as (
        |  select doc_id,
        |    'h' || (doc_id % 10) || '.example' as host,
        |    ['/', '/private/x.html', '/private/ok/y', '/img/z.png', '/tmp/a',
        |     '/tmpfile', '/all/p', '/graft/q', '/x/y.html', '/a/b/c', '/t/u',
        |     '/only/v'][(doc_id % 12) + 1] as path
        |  from documents),
        |rules as (select * from (values
        |  ('h0.example', 'disallow', '/private/', '^/private/'),
        |  ('h0.example', 'allow', '/private/ok/', '^/private/ok/'),
        |  ('h1.example', 'disallow', '/', '^/'),
        |  ('h2.example', 'disallow', '/*.png$', '^/.*\.png$'),
        |  ('h2.example', 'disallow', '/tmp*', '^/tmp.*'),
        |  ('h3.example', 'disallow', '/graft/', '^/graft/'),
        |  ('h4.example', 'disallow', '/x/', '^/x/'),
        |  ('h4.example', 'allow', '/x/y', '^/x/y'),
        |  ('h6.example', 'disallow', '/t/', '^/t/'),
        |  ('h6.example', 'allow', '/t/', '^/t/'),
        |  ('h6.example', 'disallow', '/a/', '^/a/'),
        |  ('h6.example', 'allow', '/a/b/', '^/a/b/'),
        |  ('h7.example', 'disallow', '/only/', '^/only/'))
        |  t(host, rule, pattern, rx)),
        |m as (select p.doc_id, r.rule, r.pattern,
        |    length(r.pattern) as plen, (r.rule = 'allow') as is_allow
        |  from pages p join rules r
        |    on p.host = r.host and regexp_matches(p.path, r.rx)),
        |best as (select doc_id, rule, pattern,
        |    row_number() over (partition by doc_id
        |      order by plen desc, is_allow desc, pattern desc, rule desc) as rn
        |  from m),
        |v as (select p.doc_id, p.host, p.path, b.rule, b.pattern,
        |    coalesce(b.rule = 'allow', true) as allowed
        |  from pages p left join (select * from best where rn = 1) b using (doc_id))
        |select 'http://' || host || path as target_uri, allowed, rule, pattern
        |from v order by target_uri""".stripMargin),

    // Sitemap XML parsing (r15): each doc carries a synthetic
    // <urlset> (two entries — one with every element incl. an
    // &amp;-escaped query and whitespace-padded loc, one loc-only —
    // plus a loc-less entry that must drop) or, on the %11 hosts, a
    // namespace-prefixed <sitemapindex>. The twin never parses XML:
    // it re-derives every expected row from the same doc_id
    // arithmetic, so any parser bug (block split, prefix handling,
    // entity decode, trim, the loc-required rule, priority cast)
    // breaks the hash.
    QueryDef("q136_sitemap_parse", { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast(StringType)
      val hostIdx = (col("doc_id") % 7).cast(StringType)
      val day = lpad(((col("doc_id") % 28) + 1).cast(StringType), 2, "0")
      val freq = element_at(
        array(lit("daily"), lit("weekly"), lit("monthly"), lit("never")),
        (col("doc_id") % 4).cast(IntegerType) + 1)
      val urlset = concat(
        lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
          "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "  <url>\n    <loc>http://s"),
        hostIdx, lit(".example/p"), id,
        lit("?a=1&amp;b="), (col("doc_id") % 5).cast(StringType),
        lit("</loc>\n    <lastmod>2026-01-"), day,
        lit("</lastmod>\n    <changefreq>"), freq,
        lit("</changefreq>\n    <priority>0."), (col("doc_id") % 10).cast(StringType),
        lit("</priority>\n  </url>\n  <url><loc>  http://s"), hostIdx,
        lit(".example/extra/"), (col("doc_id") * 3).cast(StringType),
        lit("  </loc></url>\n  <url><lastmod>2026-03-01</lastmod></url>\n</urlset>"))
      val index = concat(
        lit("<sm:sitemapindex xmlns:sm=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n" +
          "  <sm:sitemap><sm:loc>http://s"), hostIdx,
        lit(".example/child"), id,
        lit(".xml.gz</sm:loc><sm:lastmod>2026-02-11</sm:lastmod></sm:sitemap>\n" +
          "</sm:sitemapindex>"))
      val fixture = docs.select(col("doc_id"),
        when(col("doc_id") % 11 === 0, index).otherwise(urlset).as("xml"))
      operators.Sitemaps.parse(fixture, "xml")
        .select(col("doc_id"), col("kind"), col("loc"), col("lastmod"),
          col("changefreq"), col("priority"))
        .orderBy(col("doc_id"), col("loc"))
    },
      // sitemap twin (r15): never parses XML — re-derives every
      // expected entry row from the fixture's doc_id arithmetic (the
      // q131 device), so block split / prefix / entity / trim /
      // loc-required / priority-cast bugs all break the hash
      """with u1 as (
        |  select doc_id, 'url' as kind,
        |    'http://s' || (doc_id % 7) || '.example/p' || doc_id
        |      || '?a=1&b=' || (doc_id % 5) as loc,
        |    '2026-01-' || lpad(cast((doc_id % 28) + 1 as varchar), 2, '0') as lastmod,
        |    (['daily','weekly','monthly','never'])[(doc_id % 4) + 1] as changefreq,
        |    cast('0.' || (doc_id % 10) as double) as priority
        |  from documents where doc_id % 11 <> 0),
        |u2 as (
        |  select doc_id, 'url' as kind,
        |    'http://s' || (doc_id % 7) || '.example/extra/' || (doc_id * 3) as loc,
        |    cast(null as varchar) as lastmod, cast(null as varchar) as changefreq,
        |    cast(null as double) as priority
        |  from documents where doc_id % 11 <> 0),
        |ix as (
        |  select doc_id, 'sitemap' as kind,
        |    'http://s' || (doc_id % 7) || '.example/child' || doc_id || '.xml.gz' as loc,
        |    '2026-02-11' as lastmod, cast(null as varchar) as changefreq,
        |    cast(null as double) as priority
        |  from documents where doc_id % 11 = 0)
        |select doc_id, kind, loc, lastmod, changefreq, priority
        |from (select * from u1 union all select * from u2 union all select * from ix)
        |order by doc_id, loc""".stripMargin),

    // Anchor outlink extraction + RFC 3986 resolution (r15): every
    // page plants the five resolvable href forms (double-quoted
    // rooted, single-quoted ../ relative, unquoted ./ relative,
    // absolute with an &amp; entity and a fragment, scheme-relative)
    // plus a mailto: and a fragment-only href that must drop. The
    // twin re-derives each resolved URL from the fixture arithmetic —
    // extraction, entity decode, fragment strip, base-dir resolution
    // and dot-segment removal all sit under one hash.
    QueryDef("q137_outlinks", { (s, dir) =>
      Links.outlinks(OutlinkFixture(s, dir), "page_url", "html")
        .orderBy(col("page_url"), col("url"))
    },
      // outlink twin (r15): the five resolved URLs per page re-derived
      // arithmetically — rooted, ../ (one level up from /a/b/), ./
      // (same dir), absolute with the &amp; decoded and fragment
      // stripped, scheme-relative inheriting http
      """with d as (select doc_id,
        |    'd' || (doc_id % 6) || '.example' as sh,
        |    'http://d' || (doc_id % 6) || '.example' as h,
        |    'http://d' || (doc_id % 6) || '.example/a/b/p' || doc_id || '.html' as page_url
        |  from documents),
        |l as (
        |  select page_url, h || '/r' || doc_id as url, sh as url_host,
        |    false as nofollow from d
        |  union all select page_url, h || '/a/u' || (doc_id % 9), sh, false from d
        |  union all select page_url, h || '/a/b/s' || (doc_id * 2), sh, false from d
        |  union all select page_url,
        |    'http://x' || (doc_id % 4) || '.example/abs?q=' || doc_id || '&z=1',
        |    'x' || (doc_id % 4) || '.example', false from d
        |  union all select page_url, 'http://c' || (doc_id % 3) || '.example/cdn',
        |    'c' || (doc_id % 3) || '.example', false from d
        |  union all select page_url, h || '/nf' || doc_id, sh, true from d)
        |select page_url, url, url_host, nofollow from l
        |order by page_url, url""".stripMargin),

    // Host link graph (r15): the q137 links aggregated to
    // (src_host, dst_host) edges with multiplicity and the internal
    // flag — three same-host links per page collapse to one internal
    // edge of weight 3×pages, the absolute and scheme-relative links
    // to cross-host edges. Twin rebuilds the per-link rows
    // arithmetically and aggregates in SQL.
    QueryDef("q138_host_graph", { (s, dir) =>
      Links.hostGraph(Links.outlinks(OutlinkFixture(s, dir), "page_url", "html"))
        .orderBy(col("src_host"), col("dst_host"))
    },
      // host-graph twin (r15): the q137 links rebuilt as per-link host
      // rows (three internal + two cross-host per page), aggregated
      """with d as (select doc_id, 'd' || (doc_id % 6) || '.example' as sh from documents),
        |l as (
        |  select sh as src_host, sh as dst_host from d
        |  union all select sh, sh from d
        |  union all select sh, sh from d
        |  union all select sh, sh from d
        |  union all select sh, 'x' || (doc_id % 4) || '.example' from d
        |  union all select sh, 'c' || (doc_id % 3) || '.example' from d)
        |select src_host, dst_host, count(*) as n_links,
        |  (src_host = dst_host) as internal
        |from l group by src_host, dst_host
        |order by src_host, dst_host""".stripMargin),

    // Deterministic integer PageRank (r15): 3 iterations over a
    // 40-node synthetic host graph derived from orders arithmetic
    // (nodes ≡ 0 mod 7 have no out-edges — the dangling-mass
    // redistribution arm). Ranks are int64 multiples of 1e-12 and
    // every step is floor division, so the twin — the same recurrence
    // unrolled as SQL CTEs over DuckDB's integer `//` — must match
    // BIT-EXACTLY, something float PageRank can never gate.
    QueryDef("q139_pagerank", { (s, dir) =>
      val edges = Tables(s, dir, "orders")
        .select((col("o_orderkey") % 40).as("si"),
          ((col("o_orderkey") * 7 + 3) % 40).as("di"))
        .filter(col("si") % 7 =!= 0)
        .select(concat(lit("h"), col("si").cast(StringType)).as("src"),
          concat(lit("h"), col("di").cast(StringType)).as("dst"))
      Links.pageRank(edges, "src", "dst", iterations = 3)
        .orderBy(col("node"))
    },
      // pagerank twin (r15): the operator's integer recurrence unrolled
      // as 3 CTE iterations over DuckDB's integer `//` — init
      // SCALE//N, contribution rank//deg, dangling mass summed and
      // redistributed as dang//N, update base + (85·(s + dang//N))//100.
      // Every step is floor division on int64, so the match is
      // bit-exact, not approximate.
      """with e as (
        |  select distinct 'h' || (o_orderkey % 40) as src,
        |    'h' || ((o_orderkey * 7 + 3) % 40) as dst
        |  from orders
        |  where (o_orderkey % 40) % 7 <> 0
        |    and (o_orderkey % 40) <> ((o_orderkey * 7 + 3) % 40)),
        |nodes as (select distinct node from
        |  (select src as node from e union select dst as node from e)),
        |nn as (select count(*) as n from nodes),
        |deg as (select src, count(*) as deg from e group by src),
        |r0 as (select node, (select 1000000000000 // n from nn) as rank from nodes),
        |d1 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r0 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c1 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r0 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r1 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c1.s, 0)
        |        + (select dang from d1) // (select n from nn))) // 100 as rank
        |  from nodes left join c1 on nodes.node = c1.node),
        |d2 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r1 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c2 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r1 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r2 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c2.s, 0)
        |        + (select dang from d2) // (select n from nn))) // 100 as rank
        |  from nodes left join c2 on nodes.node = c2.node),
        |d3 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r2 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c3 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r2 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r3 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c3.s, 0)
        |        + (select dang from d3) // (select n from nn))) // 100 as rank
        |  from nodes left join c3 on nodes.node = c3.node)
        |select node, rank from r3 order by node""".stripMargin),

    // Politeness frontier scheduling (r15): per-host fetch plans from
    // a Crawl-delay table (f0–f3 at 0.5–2.0 s, the rest on the 1 s
    // default), md5 worker family so the twin can replay the worker
    // assignment, slots at seq × delay_ms — all exact integer
    // arithmetic, twinned with window functions.
    QueryDef("q140_frontier", { (s, dir) =>
      val urls = Tables(s, dir, "documents")
        .select(concat(lit("http://f"), (col("doc_id") % 8).cast(StringType),
          lit(".example/p"), col("doc_id").cast(StringType)).as("url"))
      val delays = s.range(4).select(
        concat(lit("f"), col("id").cast(StringType), lit(".example")).as("host"),
        ((col("id") + 1).cast(DoubleType) * 0.5).as("crawl_delay"))
      operators.Frontier.schedule(urls, "url", delays,
          defaultDelaySec = 1.0, nWorkers = 8, family = "md5")
        .orderBy(col("url"))
    },
      // frontier twin (r15): window row_number per host over the same
      // lexicographic order, the md5-prefix worker rule, delays as
      // exact integer milliseconds
      """with u as (select
        |    'http://f' || (doc_id % 8) || '.example/p' || doc_id as url,
        |    'f' || (doc_id % 8) || '.example' as host,
        |    (doc_id % 8) as hi
        |  from documents)
        |select url, host,
        |  ('0x' || substr(md5(host), 1, 15))::bigint % 8 as worker,
        |  row_number() over (partition by host order by url) - 1 as seq,
        |  cast(case when hi < 4 then (hi + 1) * 500 else 1000 end as bigint) as delay_ms,
        |  (row_number() over (partition by host order by url) - 1)
        |    * cast(case when hi < 4 then (hi + 1) * 500 else 1000 end as bigint)
        |    as fetch_offset_ms
        |from u order by url""".stripMargin),

    // Redirect edge extraction (r15): 3xx responses with Location
    // headers — absolute, relative, root-relative and scheme-relative
    // targets — through the envelope's http_location column (real
    // WARC bytes, obs-fold-aware header parse) and the shared
    // RFC 3986 resolution. Twin re-derives every edge arithmetically.
    QueryDef("q141_redirects", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q141").getAbsolutePath
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast(StringType)
      val status = element_at(array(lit("301 Moved Permanently"),
        lit("302 Found"), lit("307 Temporary Redirect"),
        lit("308 Permanent Redirect")), (col("doc_id") % 4).cast(IntegerType) + 1)
      val loc = when(col("doc_id") % 4 === 0,
          concat(lit("http://t"), (col("doc_id") % 3).cast(StringType),
            lit(".example/new"), id))
        .when(col("doc_id") % 4 === 1, concat(lit("/moved/"), id))
        .when(col("doc_id") % 4 === 2, concat(lit("next"), id))
        .otherwise(concat(lit("//cdn"), (col("doc_id") % 2).cast(StringType),
          lit(".example/c"), id))
      val rbody = lit("redirect body")
      val envp = concat(
        concat(lit("HTTP/1.1 "), status, lit("\r\nLocation: "), loc,
          lit("\r\nContent-Type: text/html\r\nContent-Length: "),
          octet_length(rbody.cast(BinaryType)).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType), rbody.cast(BinaryType))
      val recs = docs.select(id.as("k"),
        concat(lit("http://r"), (col("doc_id") % 5).cast(StringType),
          lit(".example/old/p"), id, lit(".html")).as("u"), envp.as("p"))
      WarcShards.write(recs, "k", "u", "p", base, nShards = 4,
        warcType = "response", contentType = "application/http; msgtype=response")
      Links.redirects(
          s.read.format("graft.sources.WarcSource").option("path", base).load())
        .select(col("from_url"), col("to_url"), col("to_host"),
          col("http_status").cast(LongType).as("http_status"))
        .orderBy(col("from_url"))
    },
      // redirect twin (r15): the four Location forms re-resolved
      // arithmetically against the from-URL's base
      """with d as (select doc_id,
        |    'http://r' || (doc_id % 5) || '.example' as h,
        |    'http://r' || (doc_id % 5) || '.example/old/p' || doc_id || '.html' as from_url
        |  from documents)
        |select from_url,
        |  case doc_id % 4
        |    when 0 then 'http://t' || (doc_id % 3) || '.example/new' || doc_id
        |    when 1 then h || '/moved/' || doc_id
        |    when 2 then h || '/old/next' || doc_id
        |    else 'http://cdn' || (doc_id % 2) || '.example/c' || doc_id end as to_url,
        |  case doc_id % 4
        |    when 0 then 't' || (doc_id % 3) || '.example'
        |    when 1 then 'r' || (doc_id % 5) || '.example'
        |    when 2 then 'r' || (doc_id % 5) || '.example'
        |    else 'cdn' || (doc_id % 2) || '.example' end as to_host,
        |  cast(case doc_id % 4 when 0 then 301 when 1 then 302
        |    when 2 then 307 else 308 end as bigint) as http_status
        |from d order by from_url""".stripMargin),

    // Redirect chain resolution (r15): pointer doubling over an
    // orders-derived chain map (u_i → u_{i+1} unless i ≡ 0 mod 5;
    // every residue mod 100 is present in orders, so chains are
    // contiguous) — each source collapses to its next multiple-of-5
    // node with the exact hop count, all terminal. Twin re-derives
    // final/hops from the same arithmetic.
    QueryDef("q142_redirect_chains", { (s, dir) =>
      val edges = Tables(s, dir, "orders")
        .select((col("o_orderkey") % 100).as("i")).distinct()
        .filter(col("i") % 5 =!= 0)
        .select(concat(lit("u"), col("i").cast(StringType)).as("from_url"),
          concat(lit("u"), (col("i") + 1).cast(StringType)).as("to_url"))
      Links.resolveRedirects(edges, maxHops = 8)
        .select(col("from_url"), col("final_url"), col("hops"), col("terminal"))
        .orderBy(col("from_url"))
    },
      // redirect-chain twin (r15): each source's final target is its
      // next multiple-of-5 node, hops = the distance — the doubling
      // must reproduce the plain arithmetic exactly
      """with k as (select distinct o_orderkey % 100 as i from orders
        |  where (o_orderkey % 100) % 5 <> 0)
        |select 'u' || i as from_url,
        |  'u' || (i - (i % 5) + 5) as final_url,
        |  cast(5 - (i % 5) as bigint) as hops,
        |  true as terminal
        |from k order by from_url""".stripMargin),

    // Anchor-text outlinks (r15): full-span extraction — nested
    // markup drops to spaces, entities decode, whitespace collapses,
    // an empty anchor yields "", an UNCLOSED anchor is not emitted
    // (the documented cost of wanting the text). Twin re-derives the
    // three expected rows per page arithmetically.
    QueryDef("q143_anchor_text", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val fixture = Tables(s, dir, "documents").select(
        concat(lit("http://w"), (col("doc_id") % 5).cast(StringType),
          lit(".example/p"), id).as("page_url"),
        concat(
          lit("<p>intro</p><a href=\"/t"), id, lit("\">Link <b>number</b> "), id,
          lit("&amp;co</a>\n<a href='/u"), id, lit("'>  spaced   text  </a>"),
          lit("<a href=/v"), id, lit("></a>"),
          lit("<a href=\"/unclosed"), id, lit("\">tail without close")).as("html"))
      Links.outlinksWithText(fixture, "page_url", "html")
        .orderBy(col("page_url"), col("url"))
    },
      // anchor-text twin (r15): the three surviving anchors per page
      // with their cleaned texts, re-derived arithmetically
      """with d as (select doc_id,
        |    'w' || (doc_id % 5) || '.example' as sh,
        |    'http://w' || (doc_id % 5) || '.example' as h,
        |    'http://w' || (doc_id % 5) || '.example/p' || doc_id as page_url
        |  from documents)
        |select page_url, url, url_host, false as nofollow, anchor_text from (
        |  select page_url, h || '/t' || doc_id as url, sh as url_host,
        |    'Link number ' || doc_id || '&co' as anchor_text from d
        |  union all select page_url, h || '/u' || doc_id, sh, 'spaced text' from d
        |  union all select page_url, h || '/v' || doc_id, sh, '' from d)
        |order by page_url, url""".stripMargin),

    // Meta-robots directives (r15): the in-document half of the
    // exclusion protocol — both attribute orders, quoted and unquoted
    // values, value-list membership, case folding, and the two
    // must-NOT-match arms (a bot-specific tag, an unrelated robots
    // directive). Twin re-derives both flags from the %7 arithmetic.
    QueryDef("q144_meta_robots", { (s, dir) =>
      val m = col("doc_id") % 7
      val meta = when(m === 0, lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(m === 1, lit("<meta name='robots' content='noindex'>"))
        .when(m === 2, lit("<META CONTENT=\"NOFOLLOW\" NAME=\"ROBOTS\">"))
        .when(m === 3, lit("<meta name=robots content=nofollow,noindex>"))
        .when(m === 4, lit("<meta name=\"googlebot\" content=\"noindex\">"))
        .when(m === 5, lit("<meta name=\"robots\" content=\"max-snippet:-1\">"))
        .otherwise(lit("<meta charset=\"utf-8\">"))
      val fixture = Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("<html><head>"), meta,
          lit("</head><body>x</body></html>")).as("html"))
      Links.metaRobots(fixture, "html")
        .select(col("doc_id"), col("noindex"), col("nofollow"))
        .orderBy(col("doc_id"))
    },
      // meta-robots twin (r15): both flags from the %7 case arithmetic
      // (0: both; 1: noindex; 2: nofollow reversed-order uppercase;
      // 3: both unquoted; 4/5/6: neither)
      """select doc_id,
        |  (doc_id % 7) in (0, 1, 3) as noindex,
        |  (doc_id % 7) in (0, 2, 3) as nofollow
        |from documents order by doc_id""".stripMargin),

    // Rank-prior curation composition (r15): the FineWeb-style chain
    // — outlinks (nofollow edges dropped: the nofollow'd third anchor
    // is load-bearing, keeping it changes every rank) → host graph →
    // integer PageRank → keep documents whose host lands in the
    // rank top-4. Each stage is individually gated (q137/q138/q139);
    // this gates their composition, the q41/q128 device.
    QueryDef("q145_rank_curation", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val fixture = Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("http://g"), (col("doc_id") % 8).cast(StringType),
          lit(".example/p"), id).as("page_url"),
        concat(
          lit("<a href=\"http://g"), ((col("doc_id") + 1) % 8).cast(StringType),
          lit(".example/x\">a</a><a href=\"http://g"),
          ((col("doc_id") * 3 + 1) % 8).cast(StringType),
          lit(".example/y\">b</a><a rel=\"nofollow\" href=\"http://g"),
          ((col("doc_id") * 5 + 2) % 8).cast(StringType),
          lit(".example/z\">c</a>")).as("html"))
      val links = Links.outlinks(fixture, "page_url", "html")
        .filter(!col("nofollow"))
      val edges = Links.hostGraph(links).filter(!col("internal"))
      val ranks = Links.pageRank(edges, "src_host", "dst_host", iterations = 3)
      val w = Window.orderBy(col("rank").desc, col("node"))
      val top = ranks.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 4).select(col("node"), col("rank"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          concat(lit("g"), (col("doc_id") % 8).cast(StringType),
            lit(".example")).as("host"))
        .join(broadcast(top), col("host") === col("node"))
        .select(col("doc_id"), col("host"), col("rank"))
        .orderBy(col("doc_id"))
    },
      // rank-curation twin (r15): the q139 integer recurrence over the
      // arithmetic host graph (nofollow edge EXCLUDED), rank top-4 by
      // (rank desc, node), joined back to each document's host
      """with l as (
        |  select 'g' || (doc_id % 8) || '.example' as src,
        |    'g' || ((doc_id + 1) % 8) || '.example' as dst from documents
        |  union all
        |  select 'g' || (doc_id % 8) || '.example',
        |    'g' || ((doc_id * 3 + 1) % 8) || '.example' from documents),
        |e as (select distinct src, dst from l where src <> dst),
        |nodes as (select distinct node from
        |  (select src as node from e union select dst as node from e)),
        |nn as (select count(*) as n from nodes),
        |deg as (select src, count(*) as deg from e group by src),
        |r0 as (select node, (select 1000000000000 // n from nn) as rank from nodes),
        |d1 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r0 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c1 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r0 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r1 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c1.s, 0)
        |        + (select dang from d1) // (select n from nn))) // 100 as rank
        |  from nodes left join c1 on nodes.node = c1.node),
        |d2 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r1 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c2 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r1 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r2 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c2.s, 0)
        |        + (select dang from d2) // (select n from nn))) // 100 as rank
        |  from nodes left join c2 on nodes.node = c2.node),
        |d3 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r2 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c3 as (select e.dst as node, cast(sum(r.rank // deg.deg) as bigint) as s from e
        |  join r2 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r3 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c3.s, 0)
        |        + (select dang from d3) // (select n from nn))) // 100 as rank
        |  from nodes left join c3 on nodes.node = c3.node),
        |top as (select node, rank,
        |    row_number() over (order by rank desc, node) as rn from r3)
        |select d.doc_id, d.host, t.rank
        |from (select doc_id, 'g' || (doc_id % 8) || '.example' as host
        |      from documents) d
        |join (select node, rank from top where rn <= 4) t on d.host = t.node
        |order by d.doc_id""".stripMargin),

    // Registered-domain blocklist gate (r15): eTLD+1 extraction
    // (co.uk keeps 3 labels, ports stripped, case folded, IPv4
    // literals pass whole) feeding a broadcast deny-join — the
    // C4/FineWeb URL-filter layer. Blocklist = s{4i}.com, so the
    // .com arms (deep-subdomain and ported-uppercase) drop exactly
    // when k ≡ 0 mod 4 and the co.uk/.de/IP arms never do. Twin
    // re-derives domain and verdict from the %5/%40 arithmetic.
    QueryDef("q147_domain_blocklist", { (s, dir) =>
      val k = (col("doc_id") % 40).cast(StringType)
      val host = when(col("doc_id") % 5 === 0, concat(lit("www.s"), k, lit(".co.uk")))
        .when(col("doc_id") % 5 === 1, concat(lit("a.b.s"), k, lit(".com")))
        .when(col("doc_id") % 5 === 2, concat(lit("s"), k, lit(".de")))
        .when(col("doc_id") % 5 === 3, concat(lit("S"), k, lit(".COM:8080")))
        .otherwise(concat(lit("192.168.0."), (col("doc_id") % 200).cast(StringType)))
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        concat(lit("http://"), host, lit("/p"),
          col("doc_id").cast(StringType)).as("url"))
      val blocked = s.range(10).select(
        concat(lit("s"), (col("id") * 4).cast(StringType), lit(".com")).as("domain"))
      Links.gateByDomain(docs, "url", blocked)
        .withColumn("registered_domain",
          Links.registeredDomain(operators.Robots.hostOf(col("url"))))
        .select(col("doc_id"), col("registered_domain"))
        .orderBy(col("doc_id"))
    },
      """with d as (select doc_id, doc_id % 40 as k, doc_id % 5 as m from documents)
        |select doc_id,
        |  case m
        |    when 0 then 's' || k || '.co.uk'
        |    when 1 then 's' || k || '.com'
        |    when 2 then 's' || k || '.de'
        |    when 3 then 's' || k || '.com'
        |    else '192.168.0.' || (doc_id % 200) end as registered_domain
        |from d
        |where not (m in (1, 3) and k % 4 = 0)
        |order by doc_id""".stripMargin),

    // Per-host response profile (r15): status-class counts and
    // envelope-parse failures keyed by host, through real WARC bytes
    // — a 200/301/404/503 rotation per doc with a %13 malformed-
    // payload arm (not an HTTP message → unparsed, overriding the
    // status arm). sum_bytes stays OUT of the gate (envelope byte
    // arithmetic belongs to the writer, not this oracle). Twin
    // re-derives every counter from the %6/%4/%13 arithmetic.
    QueryDef("q148_host_profile", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q148").getAbsolutePath
      val hfs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      hfs.delete(new org.apache.hadoop.fs.Path(base), true)
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      val id = col("doc_id").cast(StringType)
      val status = element_at(array(lit("200 OK"), lit("301 Moved Permanently"),
        lit("404 Not Found"), lit("503 Service Unavailable")),
        (col("doc_id") % 4).cast(IntegerType) + 1)
      val body = lit("profile body")
      val good = concat(
        concat(lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: text/html\r\nContent-Length: "),
          octet_length(body.cast(BinaryType)).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType), body.cast(BinaryType))
      val payload = when(col("doc_id") % 13 === 0,
          lit("GARBAGE this is not an http message").cast(BinaryType))
        .otherwise(good)
      val recs = docs.select(id.as("k"),
        concat(lit("http://hp"), (col("doc_id") % 6).cast(StringType),
          lit(".example/p"), id).as("u"), payload.as("p"))
      WarcShards.write(recs, "k", "u", "p", base, nShards = 4,
        warcType = "response", contentType = "application/http; msgtype=response")
      Corpus.hostProfile(
          s.read.format("graft.sources.WarcSource").option("path", base).load())
        .select(col("host"), col("n_responses"), col("n_2xx"), col("n_3xx"),
          col("n_4xx"), col("n_5xx"), col("n_unparsed"))
        .orderBy(col("host"))
    },
      // host-profile twin (r15): the %6/%4/%13 counter arithmetic (the
      // malformed arm overrides the status class)
      """with d as (select doc_id,
        |    'hp' || (doc_id % 6) || '.example' as host,
        |    doc_id % 4 as m, (doc_id % 13 = 0) as bad from documents)
        |select host,
        |  count(*) as n_responses,
        |  cast(sum(case when not bad and m = 0 then 1 else 0 end) as bigint) as n_2xx,
        |  cast(sum(case when not bad and m = 1 then 1 else 0 end) as bigint) as n_3xx,
        |  cast(sum(case when not bad and m = 2 then 1 else 0 end) as bigint) as n_4xx,
        |  cast(sum(case when not bad and m = 3 then 1 else 0 end) as bigint) as n_5xx,
        |  cast(sum(case when bad then 1 else 0 end) as bigint) as n_unparsed
        |from d group by host order by host""".stripMargin),

    // Recrawl staleness (r15): sitemap lastmod vs the fetch log —
    // odd ids never fetched (new); even ids compare a %28-derived
    // lastmod to a (3·id)%28-derived fetch date (modified/fresh);
    // the %3 arm drops lastmod entirely and falls back to the
    // 30-day age rule (aged/fresh). Dates as real DATEs, age as
    // exact day counts; twin re-derives all of it.
    QueryDef("q150_recrawl_status", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val entries = Tables(s, dir, "documents").select(
        concat(lit("http://rc.example/p"), id).as("loc"),
        when(col("doc_id") % 3 =!= 0,
          concat(lit("2026-01-"),
            lpad(((col("doc_id") % 28) + 1).cast(StringType), 2, "0"),
            lit("T08:30:00Z"))).as("lastmod"))
      val fetched = Tables(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(concat(lit("http://rc.example/p"), id).as("url"),
          concat(lit("2026-01-"),
            lpad(((col("doc_id") * 3 % 28) + 1).cast(StringType), 2, "0"))
            .as("fetched_at"))
      operators.Frontier.recrawlStatus(entries, "loc", "lastmod",
          fetched, "url", "fetched_at", asOf = "2026-02-15", maxAgeDays = 30)
        .orderBy(col("url"))
    },
      // domain-blocklist twin (r15): registered domain + deny verdict
      // from the %5/%40 arithmetic (the .com arms block at k ≡ 0 mod 4)
      // recrawl twin (r15): new/modified/aged/fresh from the parity,
      // %28 date and 30-day age arithmetic; age = days from the fetch
      // date to 2026-02-15 (= 46 − day-of-month, exact)
      """with d as (select doc_id,
        |    'http://rc.example/p' || doc_id as url,
        |    (doc_id % 2 = 0) as was_fetched,
        |    (doc_id % 3 <> 0) as has_lm,
        |    (doc_id % 28) + 1 as lm_day,
        |    ((doc_id * 3) % 28) + 1 as ft_day
        |  from documents)
        |select url,
        |  case when not was_fetched then 'new'
        |       when has_lm and lm_day > ft_day then 'modified'
        |       when not has_lm and 46 - ft_day >= 30 then 'aged'
        |       else 'fresh' end as status,
        |  case when was_fetched then cast(46 - ft_day as bigint) end as age_days
        |from d order by url""".stripMargin),

    // Registered-domain extraction under the vendored PSL (r16; full
    // publicsuffix.org snapshot since r17): one row per doc mapping a
    // constructed host through the full publicsuffix.org algorithm —
    // ICANN 2-level (co.uk), private registry tenants (a.github.io
    // stays a.github.io, never github.io), wildcard (*.ck), the
    // wildcard's exception (!www.ck — deep.www.ck resolves to
    // www.ck), a 4-label exact rule (pvt.k12.ma.us), a deep wildcard
    // (*.compute.amazonaws.com — the regdom keeps FIVE labels), a
    // 2012-round bare gTLD (.fancy — listed only in the FULL
    // snapshot), case/port folding, an IPv4 literal, a registry the
    // old curated subset LACKED (co.mw — under the subset it
    // over-grouped to the bare 'co.mw'; the full list keeps the
    // publication, r17), and the implicit "*" rule on an RFC 2606
    // reserved TLD (.example — never in any PSL). The twin re-derives
    // every arm from the %11 arithmetic, so a precedence bug
    // (exception vs wildcard, longest-match), a label-count bug or a
    // snapshot-parse bug changes an arm and breaks the hash.
    QueryDef("q151_registered_domain", { (s, dir) =>
      val k = (col("doc_id") % 40).cast(StringType)
      val m = col("doc_id") % 11
      val host = when(m === 0, concat(lit("www.s"), k, lit(".co.uk")))
        .when(m === 1, concat(lit("a.s"), k, lit(".github.io")))
        .when(m === 2, concat(lit("x.s"), k, lit(".ck")))
        .when(m === 3, lit("deep.www.ck"))
        .when(m === 4, concat(lit("sch.s"), k, lit(".pvt.k12.ma.us")))
        .when(m === 5, concat(lit("vm.s"), k, lit(".compute.amazonaws.com")))
        .when(m === 6, concat(lit("cdn.s"), k, lit(".fancy")))
        .when(m === 7, concat(lit("S"), k, lit(".GITHUB.IO:443")))
        .when(m === 8, concat(lit("news.s"), k, lit(".co.mw")))
        .when(m === 9, concat(lit("cdn.s"), k, lit(".example")))
        .otherwise(concat(lit("10.0."), (col("doc_id") % 200).cast(StringType),
          lit(".7:80")))
      Tables(s, dir, "documents").select(col("doc_id"),
          concat(lit("http://"), host, lit("/p")).as("url"))
        .withColumn("registered_domain",
          Links.registeredDomain(operators.Robots.hostOf(col("url"))))
        .select(col("doc_id"), col("registered_domain"))
        .orderBy(col("doc_id"))
    },
      // registered-domain twin (r16; %11 since the r17 full-snapshot
      // arms): every PSL arm re-derived from the arithmetic (the q147
      // device) — the Spark side runs the real algorithm over the
      // vendored snapshot, the twin states the expected outputs
      """with d as (select doc_id, doc_id % 40 as k, doc_id % 11 as m from documents)
        |select doc_id,
        |  case m
        |    when 0 then 's' || k || '.co.uk'
        |    when 1 then 's' || k || '.github.io'
        |    when 2 then 'x.s' || k || '.ck'
        |    when 3 then 'www.ck'
        |    when 4 then 's' || k || '.pvt.k12.ma.us'
        |    when 5 then 'vm.s' || k || '.compute.amazonaws.com'
        |    when 6 then 's' || k || '.fancy'
        |    when 7 then 's' || k || '.github.io'
        |    when 8 then 's' || k || '.co.mw'
        |    when 9 then 's' || k || '.example'
        |    else '10.0.' || (doc_id % 200) || '.7' end as registered_domain
        |from d order by doc_id""".stripMargin),

    // Main-content extraction under the gate (r16): every page wraps
    // the doc's text in article chrome — a link-dense nav div, a
    // short headline (rescued only by its good neighbour), the
    // <p>text</p> body (good iff the collapsed text clears the
    // 70-char floor), a short lead-out ("Read more soon." — rescued
    // from the OTHER side), two all-anchor related-links <li>s, a %3
    // LONG-but-link-dense paragraph (dies on density despite
    // length), and a short footer with no good neighbour (always
    // dies). The twin re-derives content/counts from the same
    // length arithmetic; a segmentation, density, length or
    // neighbour-rule bug moves blocks between classes and breaks
    // the hash.
    QueryDef("q152_main_content", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val page = concat(
        lit("<html><head><title>t"), id, lit("</title></head><body>"),
        lit("<div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1>"),
        lit("<p>"), col("text"), lit("</p>"),
        lit("<div>Read more soon.</div>"),
        lit("<ul><li><a href=\"/1\">One</a></li>" +
          "<li><a href=\"/2\">Two</a></li></ul>"),
        when(col("doc_id") % 3 === 0,
          lit("<p><a href=\"/r\">read the full report here right now " +
            "today</a> and a little extra prose to pass the length " +
            "floor</p>")).otherwise(lit("")),
        lit("<div>copyright site "), id, lit("</div></body></html>"))
      Corpus.extractContent(
          Tables(s, dir, "documents").select(col("doc_id"), page.as("html")),
          "html")
        .select(col("doc_id"), col("content"),
          col("n_blocks").cast(LongType).as("n_blocks"),
          col("n_kept").cast(LongType).as("n_kept"))
        .orderBy(col("doc_id"))
    },
      // main-content twin (r16): the fixture's blocks re-derived from
      // the same length/density arithmetic — only the body paragraph's
      // goodness depends on data (collapsed text >= 70 chars), and the
      // headline + lead-out ride exactly that decision (the neighbour
      // rule), so content and counts are pure CASE arithmetic
      """with d as (select doc_id,
        |    trim(regexp_replace(text, '[ \t\n\x0B\f\r\x{00A0}]+', ' ', 'g')) as dtext,
        |    (doc_id % 3 = 0) as dense
        |  from documents),
        |g as (select doc_id, dtext, dense, length(dtext) >= 70 as good from d)
        |select doc_id,
        |  case when good
        |    then 'Story ' || doc_id || ' headline' || chr(10) || dtext
        |      || chr(10) || 'Read more soon.'
        |    else '' end as content,
        |  cast(case when dense then 8 else 7 end as bigint) as n_blocks,
        |  cast(case when good then 3 else 0 end as bigint) as n_kept
        |from g order by doc_id""".stripMargin),

    // Per-language stopword floor under the gate (r17, the r16
    // verdict's #4): a 6-arm multilingual page matrix — en/de/fr/es/
    // ru prose bodies plus an unknown-language arm — through
    // extractContentByLang with a 0.25 floor. Every body clears ITS
    // OWN language's function-word table (fractions 0.5–0.7 by
    // construction); the keyword-spam block scores 0 under every
    // table and dies for the five known languages (long blocks are
    // never rescued) but SURVIVES the unknown-language arm (no table
    // ⇒ floor disabled ⇒ length/density alone — the never-false-
    // reject contract), dragging the short footer back in with it
    // (rescue is short-blocks-only, one hop). A dispatch bug (wrong
    // table for a row — the row-4 device in MainContentSpec), a
    // broken null fallback, or a lowercasing regression moves a
    // survivor set and breaks the hash. Twin = the q151 device:
    // independent expected outputs stated from the arm arithmetic.
    QueryDef("q159_multilang_floor", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val m = col("doc_id") % 6
      val lang = when(m === 0, lit("en")).when(m === 1, lit("de"))
        .when(m === 2, lit("fr")).when(m === 3, lit("es"))
        .when(m === 4, lit("ru")).otherwise(lit("zz"))
      val enS = "the cat and the dog were in the house with a ball " +
        "and it was not far from the garden"
      val deS = "der hund und die katze sind in dem haus mit einem " +
        "ball und es war nicht weit von dem garten"
      val frS = "le chien et le chat sont dans la maison avec un " +
        "ballon et il ne est pas loin du jardin"
      val esS = "el perro y el gato son en la casa con una pelota y " +
        "no es lejos del jardín como siempre"
      val ruS = "и собака и " +
        "кошка были " +
        "в доме с " +
        "мячом и это " +
        "было не " +
        "далеко от " +
        "сада но они " +
        "были там"
      val body = when(m === 1, lit(deS)).when(m === 2, lit(frS))
        .when(m === 3, lit(esS)).when(m === 4, lit(ruS))
        .otherwise(lit(enS))
      val spam = "buy cheap widgets gadgets doohickeys trinkets " +
        "gizmos contraptions implements apparatus equipment hardware"
      val page = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1><p>"), body,
        lit("</p><p>" + spam + "</p><div>copyright site "), id,
        lit("</div></body></html>"))
      Corpus.extractContentByLang(
          Tables(s, dir, "documents").select(col("doc_id"),
            lang.as("lang"), page.as("html")),
          "html", "lang", minStopwordFrac = 0.25)
        .select(col("doc_id"), col("lang"), col("content"),
          col("n_blocks").cast(LongType).as("n_blocks"),
          col("n_kept").cast(LongType).as("n_kept"))
        .orderBy(col("doc_id"))
    },
      // multilingual-floor twin (r17, the q151 device): independent
      // expected outputs per %6 arm — each language's prose clears its
      // own table (fractions 0.5-0.7 by construction, floor 0.25), the
      // spam block dies under every table and survives only the
      // unknown-language arm (floor disabled), dragging the short
      // footer in with it
      """with d as (select doc_id, doc_id % 6 as m from documents),
        |a as (select doc_id, m,
        |  case m when 0 then 'en' when 1 then 'de' when 2 then 'fr'
        |    when 3 then 'es' when 4 then 'ru' else 'zz' end as lang,
        |  case when m = 1 then 'der hund und die katze sind in dem haus mit einem ball und es war nicht weit von dem garten'
        |    when m = 2 then 'le chien et le chat sont dans la maison avec un ballon et il ne est pas loin du jardin'
        |    when m = 3 then 'el perro y el gato son en la casa con una pelota y no es lejos del jardín como siempre'
        |    when m = 4 then 'и собака и кошка были в доме с мячом и это было не далеко от сада но они были там'
        |    else 'the cat and the dog were in the house with a ball and it was not far from the garden'
        |    end as body
        |  from d)
        |select doc_id, lang,
        |  'Story ' || doc_id || ' headline' || chr(10) || body ||
        |    case when m = 5 then chr(10) ||
        |      'buy cheap widgets gadgets doohickeys trinkets gizmos contraptions implements apparatus equipment hardware'
        |      || chr(10) || 'copyright site ' || doc_id
        |    else '' end as content,
        |  cast(5 as bigint) as n_blocks,
        |  cast(case when m = 5 then 4 else 2 end as bigint) as n_kept
        |from a order by doc_id""".stripMargin),

    // Non-Latin-script stopword floors + the per-language floor
    // override (r18, the r17 verdict's #5): six arms over the q159
    // page template. ar/hi/el/he bodies are function-word-dense RTL/
    // Devanagari/Greek/Hebrew prose (fractions 0.41–0.68, far above
    // the 0.25 global floor); the kk body sits at exactly 4/18 =
    // 0.222 — UNDER the 0.25 global floor (Kazakh agglutination is
    // real: case/tense morphemes attach to content words) but over
    // its floorByLang("kk" -> 0.15) override, so the arm keeps iff
    // the per-language floor actually reaches the gate; the ja arm
    // has NO stopword table (unsegmented script — structural
    // exclusion), which disables the floor for the row and the spam
    // paragraph rides through on length alone, exactly q159's zz
    // arm. Twin restates outcomes from the arm arithmetic.
    QueryDef("q162_script_floor", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val m = col("doc_id") % 6
      val lang = when(m === 0, lit("ar")).when(m === 1, lit("hi"))
        .when(m === 2, lit("el")).when(m === 3, lit("he"))
        .when(m === 4, lit("kk")).otherwise(lit("ja"))
      val arS = "كان البيت في الحديقة قبل المساء وكان الأطفال هناك مع الكلب ولم يكن هذا بعيدا عن النهر"
      val hiS = "घर में एक कुत्ता था और वह बगीचा के पास था पर यह नदी से बहुत दूर नहीं था"
      val elS = "και το σπίτι ήταν στον κήπο με ένα σκυλί και δεν ήταν μακριά από το ποτάμι αλλά ήταν πολύ ωραία"
      val heS = "הבית היה על יד הגן עם כלב קטן וזה לא היה רחוק מן הנהר אבל זה היה טוב מאוד היום"
      val kkS = "үй бақшада тұрады және ит ауланы күзетеді бірақ өзен алыс емес балалар таңертең мектепке барады олар кешке қайтады"
      val jaS = "今日は天気がとても良いので私たちは公園へ行きますそして子供たちは午後の間ずっと庭で遊んでいます明日は雨が降るかもしれませんが今日はとても楽しい一日になります"
      val body = when(m === 0, lit(arS)).when(m === 1, lit(hiS))
        .when(m === 2, lit(elS)).when(m === 3, lit(heS))
        .when(m === 4, lit(kkS)).otherwise(lit(jaS))
      val spam = "buy cheap widgets gadgets doohickeys trinkets " +
        "gizmos contraptions implements apparatus equipment hardware"
      val page = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1><p>"), body,
        lit("</p><p>" + spam + "</p><div>copyright site "), id,
        lit("</div></body></html>"))
      Corpus.extractContentByLang(
          Tables(s, dir, "documents").select(col("doc_id"),
            lang.as("lang"), page.as("html")),
          "html", "lang", minStopwordFrac = 0.25,
          floorByLang = Map("kk" -> 0.15))
        .select(col("doc_id"), col("lang"), col("content"),
          col("n_blocks").cast(LongType).as("n_blocks"),
          col("n_kept").cast(LongType).as("n_kept"))
        .orderBy(col("doc_id"))
    },
      // script-floor twin (r18): outcomes restated from the %6 arm
      // arithmetic — covered scripts keep headline+body (n_kept 2),
      // the kk arm keeps ONLY because the per-language 0.15 floor
      // override reaches the gate (4/18 = 0.222 < the 0.25 global),
      // and the table-less ja arm disables the floor so the spam +
      // copyright blocks ride through (n_kept 4, q159's zz shape)
      ("""with d as (select doc_id, doc_id % 6 as m from documents),
        |a as (select doc_id, m,
        |  case m when 0 then 'ar' when 1 then 'hi' when 2 then 'el'
        |    when 3 then 'he' when 4 then 'kk' else 'ja' end as lang,
        |  case when m = 0 then 'كان البيت في الحديقة قبل المساء وكان الأطفال هناك مع الكلب ولم يكن هذا بعيدا عن النهر'
        |    when m = 1 then 'घर में एक कुत्ता था और वह बगीचा के पास था पर यह नदी से बहुत दूर नहीं था'
        |    when m = 2 then 'και το σπίτι ήταν στον κήπο με ένα σκυλί και δεν ήταν μακριά από το ποτάμι αλλά ήταν πολύ ωραία'
        |    when m = 3 then 'הבית היה על יד הגן עם כלב קטן וזה לא היה רחוק מן הנהר אבל זה היה טוב מאוד היום'
        |    when m = 4 then 'үй бақшада тұрады және ит ауланы күзетеді бірақ өзен алыс емес балалар таңертең мектепке барады олар кешке қайтады'
        |    else '今日は天気がとても良いので私たちは公園へ行きますそして子供たちは午後の間ずっと庭で遊んでいます明日は雨が降るかもしれませんが今日はとても楽しい一日になります'
        |    end as body
        |  from d)
        |select doc_id, lang,
        |  'Story ' || doc_id || ' headline' || chr(10) || body ||
        |    case when m = 5 then chr(10) ||
        |      'buy cheap widgets gadgets doohickeys trinkets gizmos contraptions implements apparatus equipment hardware'
        |      || chr(10) || 'copyright site ' || doc_id
        |    else '' end as content,
        |  cast(5 as bigint) as n_blocks,
        |  cast(case when m = 5 then 4 else 2 end as bigint) as n_kept
        |from a order by doc_id""").stripMargin),

    // Stopword-floor content extraction under the gate (r16): the
    // jusText prose discriminator — the body paragraph keeps iff the
    // collapsed doc text clears BOTH the 70-char floor AND a 0.05
    // stopword fraction (the data-dependent conjunction: 312/500
    // docs pass sf, 484 pass length); a LONG link-free keyword-spam
    // block (sf = 0) dies despite its length and must NOT ride back
    // in on its good neighbour (rescue is short-blocks-only); the
    // short headline still rescues off the body (the floor applies
    // to long blocks only — headings rarely contain stopwords). Twin
    // replays the token/stopword arithmetic on the collapsed text.
    QueryDef("q157_content_stopword", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val page = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1><p>"), col("text"),
        lit("</p><p>buy cheap widgets gadgets doohickeys trinkets gizmos " +
          "contraptions implements apparatus equipment hardware</p>"),
        lit("<ul><li><a href=\"/1\">More</a></li></ul>" +
          "<div>copyright site "), id, lit("</div></body></html>"))
      Corpus.extractContent(
          Tables(s, dir, "documents").select(col("doc_id"), page.as("html")),
          "html", minStopwordFrac = 0.05)
        .select(col("doc_id"), col("content"),
          col("n_blocks").cast(LongType).as("n_blocks"),
          col("n_kept").cast(LongType).as("n_kept"))
        .orderBy(col("doc_id"))
    },
      // stopword-floor twin (r16): the body keeps iff length AND
      // stopword-fraction clear their floors; headline rides the body.
      // Tokens lowercase before the probe (r17 ADVICE mirror — the
      // Spark side lowercases so sentence-initial 'The'/'In' count).
      """with d as (select doc_id,
        |    trim(regexp_replace(text, '[ \t\n\x0B\f\r\x{00A0}]+', ' ', 'g')) as dtext
        |  from documents),
        |g as (select doc_id, dtext,
        |    length(dtext) >= 70 and
        |    cast(len(list_filter(string_split(dtext, ' '),
        |      w -> lower(w) in ('the','a','an','and','or','of','to','in','is','it','on','for','with'))) as double)
        |      >= 0.05 * cast(len(string_split(dtext, ' ')) as double) as good
        |  from d)
        |select doc_id,
        |  case when good
        |    then 'Story ' || doc_id || ' headline' || chr(10) || dtext
        |    else '' end as content,
        |  cast(6 as bigint) as n_blocks,
        |  cast(case when good then 2 else 0 end as bigint) as n_kept
        |from g order by doc_id""".stripMargin),

    // Web-pipeline composition under the gate (r16, the q41/q145
    // device applied to the crawl-text chain): chrome-laden pages →
    // main-content extraction (q152's classifier) → token-count
    // quality floor → whole-document fingerprint dedup keep-first.
    // Every %5 doc serves an identical mirror page (constant body),
    // so the dedup stage must collapse them to doc 0; the rest keep
    // exactly when their extracted body clears the floor. Each stage
    // is individually oracled (q152/q16/q15) — this gates that they
    // COMPOSE: a classification, token-count, normalization or
    // keep-first bug moves the survivor set or a count.
    QueryDef("q155_web_pipeline", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val perDoc = concat(
        lit("<html><body><div class=\"nav\"><a href=\"/h\">Home</a> " +
          "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>"),
        lit("<h1>Story "), id, lit(" headline</h1><p>"), col("text"),
        lit("</p><ul><li><a href=\"/1\">One</a></li>" +
          "<li><a href=\"/2\">Two</a></li></ul>" +
          "<div>copyright site "), id, lit("</div></body></html>"))
      val constPage = lit("<html><body><div><a href=\"/h\">Home</a> " +
        "<a href=\"/a\">About</a> <a href=\"/c\">Contact</a></div>" +
        "<p>The weekly status update repeats verbatim on every mirror " +
        "of this site, word for word and byte for byte.</p>" +
        "<ul><li><a href=\"/m\">Mirrors</a></li></ul></body></html>")
      val pages = Tables(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0, constPage).otherwise(perDoc).as("html"))
      // aggregate barrier on the unique id: the downstream filter
      // (pushdown substitutes into it — the r11 lesson), window key
      // and output select would otherwise each re-inline the whole
      // extraction chain (measured: 6.6 s -> barrier'd re-measure in
      // SCALE.md r16)
      val extracted = Corpus.extractContent(pages, "html")
        .groupBy(col("doc_id"))
        .agg(first(col("content")).as("content"),
          first(col("n_kept")).as("n_kept"))
      val kept = extracted.filter(Text.tokenCount(col("content")) >= 5)
      val w = Window.partitionBy(Text.fingerprint(col("content")))
        .orderBy(col("doc_id"))
      kept.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("doc_id"),
          col("n_kept").cast(LongType).as("n_kept"),
          Text.tokenCount(col("content")).cast(LongType).as("n_tokens"))
        .orderBy(col("doc_id"))
    },
      // web-pipeline twin (r16): q152's content arithmetic + the %5
      // constant mirror page, token floor, and min-doc_id keep-first
      // over the normalized-content fingerprint groups
      """with d as (select doc_id,
        |    trim(regexp_replace(text, '[ \t\n\x0B\f\r\x{00A0}]+', ' ', 'g')) as dtext
        |  from documents),
        |c as (select doc_id,
        |    case when doc_id % 5 = 0
        |      then 'The weekly status update repeats verbatim on every mirror of this site, word for word and byte for byte.'
        |      when length(dtext) >= 70
        |      then 'Story ' || doc_id || ' headline' || chr(10) || dtext
        |      else '' end as content,
        |    case when doc_id % 5 = 0 then 1
        |      when length(dtext) >= 70 then 2 else 0 end as n_kept
        |  from d),
        |k as (select doc_id, content, n_kept,
        |    case when length(trim(content)) = 0 then 0
        |      else len(string_split_regex(trim(content), '\s+')) end as n_tokens
        |  from c),
        |f as (select *,
        |    md5(trim(regexp_replace(regexp_replace(lower(content),
        |      '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) as fp
        |  from k where n_tokens >= 5),
        |dd as (select doc_id, n_kept, n_tokens,
        |    row_number() over (partition by fp order by doc_id) as rn from f)
        |select doc_id, cast(n_kept as bigint) as n_kept,
        |  cast(n_tokens as bigint) as n_tokens
        |from dd where rn = 1 order by doc_id""".stripMargin),

    // Weighted PageRank under the gate (r16): the q139 graph with
    // per-edge multiplicities ((o_orderkey % 9) + 1 — duplicate
    // (src,dst) pairs SUM their weights, the hostGraph n_links
    // convention), 3 iterations; contributions are (rank·w) // W(u)
    // through the overflow-safe identity, so the twin's hugeint
    // (rank*w)//W reproduces every unit exactly. A weighting,
    // aggregation or out-degree bug moves integer units and breaks
    // the hash; the ORDERING also differs from q139's simple-graph
    // ranks (the spec asserts that on a crafted pair).
    QueryDef("q154_weighted_pagerank", { (s, dir) =>
      val edges = Tables(s, dir, "orders")
        .select((col("o_orderkey") % 40).as("si"),
          ((col("o_orderkey") * 7 + 3) % 40).as("di"),
          ((col("o_orderkey") % 9) + 1).as("w"))
        .filter(col("si") % 7 =!= 0)
        .select(concat(lit("h"), col("si").cast(StringType)).as("src"),
          concat(lit("h"), col("di").cast(StringType)).as("dst"),
          col("w"))
      Links.pageRank(edges, "src", "dst", iterations = 3,
          weightCol = Some("w"))
        .orderBy(col("node"))
    },
      // weighted-pagerank twin (r16): the q139 recurrence with a
      // weight column — weighted out-degree, hugeint (rank*w)//deg
      // contributions (exactly the engine's overflow-safe identity),
      // sums cast to bigint for the dtype gate
      """with e as (
        |  select 'h' || (o_orderkey % 40) as src,
        |    'h' || ((o_orderkey * 7 + 3) % 40) as dst,
        |    cast(sum((o_orderkey % 9) + 1) as bigint) as w
        |  from orders
        |  where (o_orderkey % 40) % 7 <> 0
        |    and (o_orderkey % 40) <> ((o_orderkey * 7 + 3) % 40)
        |  group by 1, 2),
        |nodes as (select distinct node from
        |  (select src as node from e union select dst as node from e)),
        |nn as (select count(*) as n from nodes),
        |deg as (select src, cast(sum(w) as bigint) as deg from e group by src),
        |r0 as (select node, (select 1000000000000 // n from nn) as rank from nodes),
        |d1 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r0 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c1 as (select e.dst as node, cast(sum((r.rank * e.w) // deg.deg) as bigint) as s from e
        |  join r0 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r1 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c1.s, 0)
        |        + (select dang from d1) // (select n from nn))) // 100 as rank
        |  from nodes left join c1 on nodes.node = c1.node),
        |d2 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r1 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c2 as (select e.dst as node, cast(sum((r.rank * e.w) // deg.deg) as bigint) as s from e
        |  join r1 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r2 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c2.s, 0)
        |        + (select dang from d2) // (select n from nn))) // 100 as rank
        |  from nodes left join c2 on nodes.node = c2.node),
        |d3 as (select cast(coalesce(sum(r.rank), 0) as bigint) as dang from r2 r
        |  left join deg on r.node = deg.src where deg.src is null),
        |c3 as (select e.dst as node, cast(sum((r.rank * e.w) // deg.deg) as bigint) as s from e
        |  join r2 r on e.src = r.node join deg on e.src = deg.src group by e.dst),
        |r3 as (select nodes.node,
        |    (select (15 * 1000000000000) // (100 * n) from nn)
        |    + (85 * (coalesce(c3.s, 0)
        |        + (select dang from d3) // (select n from nn))) // 100 as rank
        |  from nodes left join c3 on nodes.node = c3.node)
        |select node, rank from r3 order by node""".stripMargin),

    // Gzip-FILE sitemaps under the gate (r16): odd docs serve a
    // sitemap.xml.gz as application/octet-stream with NO
    // Content-Encoding header (the common large-site case — the gzip
    // is a property of the FILE, not the transfer); even docs serve
    // plain per-doc XML. entriesOf must magic-sniff the 1F 8B body,
    // inflate through the shared chain, and parse — a sniff, inflate
    // or routing bug drops (or garbles) every odd row. The gzip
    // bytes are built driver-side once (Java's GZIPOutputStream is
    // deterministic: mtime=0) for a CONSTANT sitemap, so the twin is
    // pure arithmetic.
    QueryDef("q153_gzip_sitemap", { (s, dir) =>
      val constXml = "<urlset><url><loc>http://gz.example/a</loc></url>" +
        "<url><loc>http://gz.example/b</loc></url></urlset>"
      val bos = new java.io.ByteArrayOutputStream()
      val gzo = new java.util.zip.GZIPOutputStream(bos)
      gzo.write(constXml.getBytes("UTF-8")); gzo.close()
      val gzBytes = bos.toByteArray
      val id = col("doc_id").cast(StringType)
      val plainXml = concat(lit("<urlset><url><loc>http://s.example/p"), id,
        lit("</loc></url></urlset>"))
      val recs = Tables(s, dir, "documents").select(
        lit("response").as("warc_type"),
        concat(lit("http://s.example/sm"), id,
          when(col("doc_id") % 2 === 1, lit(".xml.gz"))
            .otherwise(lit(".xml"))).as("target_uri"),
        lit(200).as("http_status"),
        when(col("doc_id") % 2 === 1, lit("application/octet-stream"))
          .otherwise(lit("text/xml")).as("http_content_type"),
        lit(null).cast(StringType).as("http_content_encoding"),
        lit(null).cast(StringType).as("http_transfer_encoding"),
        when(col("doc_id") % 2 === 1, lit(gzBytes))
          .otherwise(plainXml.cast(BinaryType)).as("body"))
      operators.Sitemaps.entriesOf(recs)
        .select(col("sitemap_url"), col("kind"), col("loc"))
        .orderBy(col("sitemap_url"), col("loc"))
    },
      // gzip-sitemap twin (r16): even docs = their own per-doc loc,
      // odd docs = the two constant locs of the gzipped sitemap
      """select * from (
        |  select 'http://s.example/sm' || doc_id || '.xml' as sitemap_url,
        |    'url' as kind, 'http://s.example/p' || doc_id as loc
        |  from documents where doc_id % 2 = 0
        |  union all
        |  select 'http://s.example/sm' || doc_id || '.xml.gz', 'url', u
        |  from documents, (values ('http://gz.example/a'), ('http://gz.example/b')) v(u)
        |  where doc_id % 2 = 1)
        |order by sitemap_url, loc""".stripMargin),

    // q72 (compression-ratio signal) was retired from the gate in
    // r12 after five rounds as the lone rows-only entry: deflate
    // output is zlib-build-specific, so no DuckDB twin can exist,
    // and a literal-only fixed-Huffman surrogate degenerates to a
    // pure length function on the ASCII fixture corpus (gating
    // nothing). `Text.compressionRatio` stays production + spec-gated
    // (separation/edge spec) and CLI-driven (`ProfileCorpus` deflate
    // means); the q75 composition gate covers the surrounding
    // profile plumbing hash-exactly.
    // URL canonicalization under the gate (the CommonCrawl dedup
    // key). The fixture has no URL column, so both engines construct
    // the same three URL shapes from `part` (http:80 + doubled
    // slashes + trailing slash + utm/ref params + fragment; https:443
    // + gclid; a non-URL passthrough) and canonicalize — every branch
    // of the operator crosses the hash.
    QueryDef("q73_url_canonicalize", { (s, dir) =>
      val pk = col("p_partkey").cast(StringType)
      val raw = when(col("p_partkey") % 11 === 0, lit("not a url"))
        .when(col("p_partkey") % 2 === 0, concat(
          lit("HTTP://Shop.Example.COM:80//catalog//item/"), pk,
          lit("/?utm_source=feed&id="), pk, lit("&ref=x&b=2&a=1#frag")))
        .otherwise(concat(
          lit("HTTPS://Shop.Example.COM:443/item/"), pk,
          lit("?gclid=g&z=9&id="), pk, lit("#s")))
      Text.withCanonicalUrl(
          Tables(s, dir, "part").select(col("p_partkey"), raw.as("url")), "url")
        .select(col("p_partkey"), col("canonical_url"))
        .orderBy(col("p_partkey"))
    },
      """with t as (select p_partkey,
        |    case when p_partkey % 11 = 0 then 'not a url'
        |      when p_partkey % 2 = 0 then
        |        'HTTP://Shop.Example.COM:80//catalog//item/' || cast(p_partkey as varchar)
        |          || '/?utm_source=feed&id=' || cast(p_partkey as varchar)
        |          || '&ref=x&b=2&a=1#frag'
        |      else 'HTTPS://Shop.Example.COM:443/item/' || cast(p_partkey as varchar)
        |          || '?gclid=g&z=9&id=' || cast(p_partkey as varchar) || '#s'
        |    end as url from part),
        |x as (select p_partkey, url,
        |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$', 1) as scheme,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*$', 1) as host,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*).*$', 1) as path,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*\?([^#]*).*$', 1) as q
        |  from t),
        |y as (select p_partkey, url, lower(scheme) as lscheme,
        |    case when lower(scheme) = 'http' then regexp_replace(lower(host), ':80$', '')
        |      when lower(scheme) = 'https' then regexp_replace(lower(host), ':443$', '')
        |      else lower(host) end as lhost,
        |    case when length(rtrim(regexp_replace(path, '/{2,}', '/', 'g'), '/')) = 0 then '/'
        |      else rtrim(regexp_replace(path, '/{2,}', '/', 'g'), '/') end as cpath,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> not regexp_matches(p, '^(utm_[^=]*|ref|fbclid|gclid)(=.*)?$')
        |        and length(p) > 0)), '&') as cquery
        |  from x)
        |select p_partkey,
        |  case when lscheme = '' then url
        |    else lscheme || '://' || lhost || cpath ||
        |      case when length(cquery) > 0 then '?' || cquery else '' end
        |  end as canonical_url
        |from y order by p_partkey""".stripMargin),

    // WARC export under the gate (r11): documents shipped as Common
    // Crawl-layout WARC conversion shards (one gzip member per
    // record + cdx sidecars), then the manifest parsed back by the
    // INDEPENDENT record-walk reader — the twin re-derives every
    // md5-prefix shard assignment and per-shard payload byte sum
    // from the documents table. A record framing, Content-Length or
    // assignment bug shifts the sums and breaks the hash.
    // (Compressed sizes are zlib-build-specific — the q72 lesson —
    // and stay out of the gate.)
    QueryDef("q107_warc_export", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q107").getAbsolutePath
      WarcShards.write(
          Tables(s, dir, "documents").select(
            col("doc_id").cast(StringType).as("k"),
            concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
            col("text").cast(BinaryType).as("p")),
          "k", "u", "p", base, nShards = 8)
        .select(col("shard"), col("n_records"), col("payload_bytes"))
        .orderBy(col("shard"))
    },
      // WARC export twin: md5-prefix assignment + utf8 octet lengths,
      // grouped per shard in SQL
      """with d as (select cast(doc_id as varchar) as k,
        |    octet_length(encode(text)) as len
        |  from documents),
        |a as (select ('0x' || substr(md5(k), 1, 8))::bigint % 8 as shard, len from d)
        |select cast(shard as int) as shard,
        |  cast(count(*) as bigint) as n_records,
        |  cast(sum(len) as bigint) as payload_bytes
        |from a
        |group by shard
        |order by shard""".stripMargin),

    // WARC read-back under the gate (r11): shards written by
    // WarcShards re-read through the DataSource V2 WARC source
    // (partition-per-file, record walk, multi-member gunzip) with
    // FULL payloads — the twin re-derives every header field
    // (urn:uuid record id from the md5 rule, fixed type/content-type,
    // utf8 Content-Length) and the payload text itself from
    // documents. A header parse, payload framing, gunzip or
    // record-id derivation bug breaks the hash.
    QueryDef("q108_warc_readback", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q108").getAbsolutePath
      WarcShards.write(
        Tables(s, dir, "documents").select(
          col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          col("text").cast(BinaryType).as("p")),
        "k", "u", "p", base, nShards = 8)
      s.read.format("graft.sources.WarcSource").option("path", base).load()
        .select(
          col("target_uri").substr(lit(15), lit(1000000)).cast(LongType).as("doc_id"),
          col("shard"), col("record_id"), col("warc_type"), col("content_type"),
          col("content_length"),
          col("payload").cast(StringType).as("text"))
        .orderBy(col("doc_id"))
    },
      // WARC read-back twin: every header field re-derived — the
      // urn:uuid grouping of md5(key), the fixed conversion/text-plain
      // fields, utf8 Content-Length, and the payload text itself
      """with h as (select doc_id, text, md5(cast(doc_id as varchar)) as m from documents)
        |select doc_id,
        |  cast(('0x' || substr(m, 1, 8))::bigint % 8 as int) as shard,
        |  'urn:uuid:' || substr(m, 1, 8) || '-' || substr(m, 9, 4) || '-'
        |    || substr(m, 13, 4) || '-' || substr(m, 17, 4) || '-' || substr(m, 21, 12)
        |    as record_id,
        |  'conversion' as warc_type,
        |  'text/plain' as content_type,
        |  cast(octet_length(encode(text)) as bigint) as content_length,
        |  text
        |from h
        |order by doc_id""".stripMargin),

    // WET text extraction under the gate (r12): the de-facto Common
    // Crawl text-pipeline entry — WET shards straight to
    // (target_uri, text) through the conversion-record filter and
    // UTF-8 decode. The twin re-derives both columns from documents,
    // so a type filter, decode or uri bug breaks the hash.
    QueryDef("q118_wet_text", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q118").getAbsolutePath
      WarcShards.write(
        Tables(s, dir, "documents").select(
          col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          col("text").cast(BinaryType).as("p")),
        "k", "u", "p", base, nShards = 8)
      graft.sources.WarcSource.wetText(s, base)
        .orderBy(col("target_uri"))
    },
      // WET text twin: uri and text re-derived straight from documents
      """select 'urn:graft:doc/' || cast(doc_id as varchar) as target_uri, text
        |from documents
        |order by target_uri""".stripMargin),

    // Raw-crawl HTML extraction under the gate (r12): CC-shaped
    // `response` records (HTTP envelopes built deterministically —
    // status, content type and declared charset vary by doc_id) go
    // through the sink, the DSv2 source, the envelope split, the
    // 2xx/text filters and the charset branches of responseText. The
    // corpus is ASCII, so every decodable charset yields the text
    // verbatim and the twin re-derives each branch — a split, filter,
    // charset-extraction or null-branch bug breaks the hash.
    QueryDef("q121_response_text", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q121").getAbsolutePath
      val docs = Tables(s, dir, "documents")
      // r13 branch matrix: unknown charset (NULL), xhtml+GBK (the
      // widened content-type + alias whitelist), Content-Encoding
      // gzip (transfer decode before charset decode — round-trip
      // identity under the hash), UTF-8, meta-sniff (no declared
      // charset, <meta charset=windows-1250> in-body), shift_jis
      // (decodes now — ASCII identity, the corpus is printable-ASCII
      // without backslash/tilde). r14 adds the chunked
      // Transfer-Encoding arms: plain chunk framing, chunk framing
      // OVER a gzip Content-Encoding body (dechunk then inflate),
      // and a declared-chunked-but-unframed body (the 'ZZ' prefix
      // can never parse as a hex chunk size → NULL html, loudly).
      // Branch order matters and the twin mirrors it.
      val e0 = col("doc_id") % 7 =!= 0 && col("doc_id") % 11 =!= 0 &&
        col("doc_id") % 13 =!= 0
      val gzBranch = e0 && col("doc_id") % 19 === 0
      val e1 = e0 && col("doc_id") % 19 =!= 0
      val chBranch = e1 && col("doc_id") % 23 === 0
      val e2 = e1 && col("doc_id") % 23 =!= 0
      val chgzBranch = e2 && col("doc_id") % 29 === 0
      val e3 = e2 && col("doc_id") % 29 =!= 0
      val badChBranch = e3 && col("doc_id") % 31 === 0
      val e4 = e3 && col("doc_id") % 31 =!= 0
      // br arm (r18): Content-Encoding brotli decodes through the
      // vendored RFC 7932 decoder — round-trip identity under the
      // hash, exactly the gzip arm's contract
      val brBranch = e4 && col("doc_id") % 37 === 0
      val ctype = when(col("doc_id") % 7 === 0, lit("image/png"))
        .when(col("doc_id") % 11 === 0, lit("text/html; charset=klingon"))
        .when(col("doc_id") % 13 === 0, lit("application/xhtml+xml; charset=GBK"))
        .when(col("doc_id") % 19 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 23 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 29 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 31 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 37 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 3 === 0, lit("text/html; charset=UTF-8"))
        .when(col("doc_id") % 3 === 1, lit("text/plain"))
        .otherwise(lit("text/html; charset=shift_jis"))
      val bodyText = when(e4 && col("doc_id") % 3 === 1,
        concat(lit("<meta charset=\"windows-1250\">"), col("text")))
        .otherwise(col("text"))
      // one-chunk framing: hex size CRLF, data CRLF, 0-chunk,
      // trailer on the chunked+gzip arm (tolerance under the hash)
      def chunkFrame(b: Column, trailer: String): Column = concat(
        concat(lower(hex(octet_length(b))), lit("\r\n")).cast(BinaryType),
        b,
        lit(s"\r\n0\r\n$trailer\r\n").cast(BinaryType))
      val gzText = graft.functions.HttpBody.gzipBytes(col("text").cast(BinaryType))
      val bodyBytes = when(gzBranch, gzText)
        .when(chBranch, chunkFrame(col("text").cast(BinaryType), ""))
        .when(chgzBranch, chunkFrame(gzText, "X-Trailer: 1\r\n"))
        .when(badChBranch, concat(lit("ZZ\r\n").cast(BinaryType),
          col("text").cast(BinaryType)))
        .when(brBranch,
          graft.functions.HttpBody.brotliBytes(col("text").cast(BinaryType)))
        .otherwise(bodyText.cast(BinaryType))
      val status = when(col("doc_id") % 5 === 0, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val envelope = concat(
        concat(
          lit("HTTP/1.1 "), status,
          lit("\r\nContent-Type: "), ctype,
          when(gzBranch || chgzBranch, lit("\r\nContent-Encoding: gzip"))
            .when(brBranch, lit("\r\nContent-Encoding: br"))
            .otherwise(lit("")),
          when(chBranch || chgzBranch || badChBranch,
            lit("\r\nTransfer-Encoding: chunked")).otherwise(lit("")),
          lit("\r\nContent-Length: "), octet_length(bodyBytes).cast(StringType),
          lit("\r\n\r\n")).cast(BinaryType),
        bodyBytes)
      WarcShards.write(
        docs.select(col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          envelope.cast(BinaryType).as("p")),
        "k", "u", "p", base, nShards = 8,
        warcType = "response",
        contentType = "application/http; msgtype=response")
      graft.sources.WarcSource.responseText(s, base)
        .select(col("target_uri"),
          col("http_status").cast(LongType).as("http_status"),
          col("http_content_type"), col("html"))
        .orderBy(col("target_uri"))
    },
      // response-text twin: the same status/content-type/charset/
      // transfer branching re-derived per doc — 404s and non-text
      // filtered, utf-8/absent charsets decode to the text verbatim
      // (ASCII corpus), the undecodable charset yields NULL html, the
      // chunked arms (r14) round-trip to the text, the
      // declared-chunked-but-unframed arm yields NULL
      """select 'urn:graft:doc/' || cast(doc_id as varchar) as target_uri,
        |  cast(200 as bigint) as http_status,
        |  case when doc_id % 11 = 0 then 'text/html; charset=klingon'
        |       when doc_id % 13 = 0 then 'application/xhtml+xml; charset=GBK'
        |       when doc_id % 19 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 23 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 29 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 31 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 37 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 3 = 0 then 'text/html; charset=UTF-8'
        |       when doc_id % 3 = 1 then 'text/plain'
        |       else 'text/html; charset=shift_jis' end as http_content_type,
        |  case when doc_id % 11 = 0 then null
        |       when doc_id % 13 = 0 then text
        |       when doc_id % 19 = 0 then text
        |       when doc_id % 23 = 0 then text
        |       when doc_id % 29 = 0 then text
        |       when doc_id % 31 = 0 then null
        |       when doc_id % 37 = 0 then text
        |       when doc_id % 3 = 1 then '<meta charset="windows-1250">' || text
        |       else text end as html
        |from documents
        |where doc_id % 5 <> 0 and doc_id % 7 <> 0
        |order by target_uri""".stripMargin),

    // Common Crawl pipeline composition under the gate (r12): the
    // full one-liner story in one hash — WET shards → wetText →
    // Gopher keep → exact dedup (deterministic min-id per
    // fingerprint), the DocStream quality→dedup order. The twin
    // replays the q109 rule chain + md5-norm fingerprints off
    // `documents` (q118 proves the WET round trip is byte-exact), so
    // a bug anywhere in the sink→source→decode→rules→dedup chain
    // breaks the hash.
    QueryDef("q120_cc_pipeline", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q120").getAbsolutePath
      WarcShards.write(
        Tables(s, dir, "documents").select(
          col("doc_id").cast(StringType).as("k"),
          concat(lit("urn:graft:doc/"), col("doc_id")).as("u"),
          col("text").cast(BinaryType).as("p")),
        "k", "u", "p", base, nShards = 8)
      val docs = graft.sources.WarcSource.wetText(s, base)
        .select(col("target_uri").substr(lit(15), lit(1000000))
          .cast(LongType).as("doc_id"), col("text"))
      val kept = Corpus.gopherSignals(docs, "doc_id", "text")
        .filter(col("keep"))
        .select(col("id").as("doc_id"), col("n_words"), col("mean_word_len"))
        .join(docs.select(col("doc_id"),
          Text.fingerprint(col("text")).as("_fp")), Seq("doc_id"))
      val firsts = kept.groupBy(col("_fp"))
        .agg(min(col("doc_id")).as("doc_id"))
      kept.join(firsts, Seq("_fp", "doc_id"), "left_semi")
        .select(col("doc_id"), col("n_words"), col("mean_word_len"))
        .orderBy(col("doc_id"))
    },
      // CC pipeline twin: q109's rule chain to the keep flag, then
      // md5-norm fingerprints and min-id-per-fingerprint dedup — all
      // off `documents` (the WET round trip is byte-exact per q118)
      s"""with ${oracleGopherKeepCtes("documents")},
        |f as (select k.doc_id, k.n_words, k.mean_word_len,
        |    md5($OracleNorm) as fp
        |  from k join documents using (doc_id)),
        |m as (select fp, min(doc_id) as doc_id from f group by 1)
        |select f.doc_id, f.n_words, f.mean_word_len
        |from f join m on f.fp = m.fp and f.doc_id = m.doc_id
        |order by f.doc_id""".stripMargin)
  )
}
