package graft
package queries

import graft.functions.{Abi, Md5Family, Text}
import graft.operators.{Bpe, Corpus, QualityClassifier, Unigram}
import graft.sinks.TarShards
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import OracleFragments._

/** Text-curation queries: text signals, language ID, tokenizers,
  * chunking and packing, quality scoring, corpus selection/mixing and
  * the tar/shard export paths. */
object TextQueries {

  def all: Seq[QueryDef] = Seq(

    // token counting + punctuation/digit profile
    QueryDef("q16_text_stats", { (s, dir) =>
      // counts cast to long: Spark size() is int32, DuckDB len() is
      // int64 — align dtypes, not just values
      Tables(s, dir, "documents")
        .select(
          col("doc_id"),
          Text.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          Text.bpeishTokenCount(col("text")).cast(LongType).as("n_bpeish"),
          Text.punctCount(col("text")).cast(LongType).as("n_punct"),
          Text.markerCount(col("text"), Text.EnglishStopwords).cast(LongType).as("n_stopwords"),
          Text.punctRatio(col("text")).as("punct_ratio"),
          Text.avgTokenLen(col("text")).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },
      s"""select doc_id,
        |  $OracleNTokens as n_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) as n_bpeish,
        |  len(regexp_extract_all(text, '[.,!?;:]')) as n_punct,
        |  len(list_filter($OracleTokens, t -> t in ($OracleStop))) as n_stopwords,
        |  cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |    / cast(greatest(length(text), 1) as double) as punct_ratio,
        |  cast(length(text) as double)
        |    / cast(greatest($OracleNTokens, 1) as double) as avg_token_len
        |from documents
        |order by doc_id""".stripMargin),

    // language-ID heuristic vs the labeled lang column (staged form:
    // tokens + marker counts materialize once per row; the one-shot
    // Column tree re-ran the token split ~20× across argmax branches)
    QueryDef("q17_langid", { (s, dir) =>
      Text.withLangId(
          Tables(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
          "text")
        .select(col("doc_id"), col("lang"), col("lang_guess"))
        .withColumn("agree", (col("lang") === col("lang_guess")).cast(IntegerType))
        .orderBy(col("doc_id"))
    },
      s"""with scored as (
        |  select doc_id, lang, text,
        |    len(list_filter($OracleTokens, t -> t in ('the','and','of','to','is','in','that','it'))) as s_en,
        |    len(list_filter($OracleTokens, t -> t in ('el','la','de','que','y','en','los','una'))) as s_es,
        |    len(list_filter($OracleTokens, t -> t in ('der','die','und','das','ist','nicht','ein','mit'))) as s_de,
        |    len(list_filter($OracleTokens, t -> t in ('le','la','les','de','et','est','un','une'))) as s_fr,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) as cjk
        |  from documents)
        |select doc_id, lang,
        |  case when cjk * 4 > length(text) then 'zh'
        |       when s_en = greatest(s_en,s_es,s_de,s_fr) and s_en > 0 then 'en'
        |       when s_es = greatest(s_en,s_es,s_de,s_fr) and s_es > 0 then 'es'
        |       when s_de = greatest(s_en,s_es,s_de,s_fr) and s_de > 0 then 'de'
        |       when s_fr = greatest(s_en,s_es,s_de,s_fr) and s_fr > 0 then 'fr'
        |       else 'und' end as lang_guess,
        |  cast(lang = (case when cjk * 4 > length(text) then 'zh'
        |       when s_en = greatest(s_en,s_es,s_de,s_fr) and s_en > 0 then 'en'
        |       when s_es = greatest(s_en,s_es,s_de,s_fr) and s_es > 0 then 'es'
        |       when s_de = greatest(s_en,s_es,s_de,s_fr) and s_de > 0 then 'de'
        |       when s_fr = greatest(s_en,s_es,s_de,s_fr) and s_fr > 0 then 'fr'
        |       else 'und' end) as int) as agree
        |from scored
        |order by doc_id""".stripMargin),

    // document fingerprinting (whole-doc + rolling-hash winnow band)
    QueryDef("q18_fingerprints", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), Text.normalized(col("text")).as("_n"))
        .select(col("doc_id"),
          md5(col("_n")).as("fp"),
          Text.rollingFingerprintFromNormalized(col("_n"), 16).as("rolling_fp"))
        .orderBy(col("doc_id"))
    },
      s"""with n as (select doc_id, $OracleNorm as norm from documents)
        |select doc_id, md5(norm) as fp,
        |  list_aggregate(
        |    list_transform(range(1, greatest(len(norm)-16+1, 0)+1, 4),
        |                   i -> md5(substr(norm, i, 16))), 'min') as rolling_fp
        |from n
        |order by doc_id""".stripMargin),

    // composite quality score
    QueryDef("q19_quality_score", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    },
      s"""with m as (
        |  select doc_id,
        |    $OracleNTokens as n_tokens,
        |    len(list_filter($OracleTokens, t -> t in ($OracleStop))) as n_stop,
        |    cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |      / cast(greatest(length(text),1) as double) as punct_ratio,
        |    cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |      / cast(greatest(length(text),1) as double) as digit_ratio
        |  from documents)
        |select doc_id,
        |  0.4 * least(cast(n_tokens as double) / 50.0, 1.0)
        |  + 0.3 * least(cast(n_stop as double) / cast(greatest(n_tokens,1) as double) * 4.0, 1.0)
        |  + 0.15 * (1.0 - least(punct_ratio * 5.0, 1.0))
        |  + 0.15 * (1.0 - least(digit_ratio * 5.0, 1.0)) as quality
        |from m
        |order by doc_id""".stripMargin),

    // Training-sequence prep under the gate: token-window chunking
    // with overlap (64-token chunks every 48 — trailing chunk short,
    // empty docs vanish) against a DuckDB list-slice twin
    QueryDef("q39_doc_chunking", { (s, dir) =>
      operators.Chunking.chunkDocuments(Tables(s, dir, "documents"),
          "doc_id", "text", chunkSize = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_index"))
    },
      (s"""with t as (select doc_id, $OracleTokens as toks from documents),
        | c as (select doc_id,
        |   list_filter(list_transform(range(1, greatest(len(toks),1)+1, 48),
        |     st -> array_to_string(toks[st:st+63], ' ')), x -> length(x) > 0) as chunks
        |  from t),
        | e as (select doc_id, generate_subscripts(chunks, 1) - 1 as chunk_index,
        |   unnest(chunks) as chunk_text from c)
        |select doc_id, chunk_index, chunk_text,
        |  case when length(trim(chunk_text)) = 0 then 0
        |       else len(string_split_regex(trim(chunk_text), '\\s+')) end as chunk_tokens
        |from e
        |order by doc_id, chunk_index""".stripMargin)),

    // Offset packing: docs assigned to fixed-token training sequences
    // by cumulative-offset bin — window cumsum both engines can
    // express exactly. Packed PER SHARD (source): the window
    // partitions on it, so no single task ever sorts the corpus (the
    // r2 global-window scale hazard; the unsharded form survives in
    // ChunkingSpec for small inputs).
    QueryDef("q40_sequence_packing", { (s, dir) =>
      operators.Chunking.packSummary(Tables(s, dir, "documents"),
        "doc_id", "text", seqTokens = 2048L, shardCol = Some("source"))
    },
      (s"""with n as (select source, doc_id, $OracleNTokens as n from documents),
        | o as (select source, doc_id, n,
        |   coalesce(sum(n) over (partition by source order by doc_id
        |     rows between unbounded preceding and 1 preceding), 0) as off from n)
        |select source,
        |  cast(floor(off / 2048.0) as bigint) as seq_id,
        |  count(*) as n_docs,
        |  cast(sum(n) as bigint) as sum_tokens,
        |  min(doc_id) as first_doc,
        |  max(doc_id) as last_doc
        |from o
        |group by source, seq_id
        |order by source, seq_id""".stripMargin)),

    // The doc-level packing output (per-doc seq assignment) under the
    // same per-shard window — gates packOffsets itself, not just the
    // summary rollup
    QueryDef("q42_packing_offsets", { (s, dir) =>
      operators.Chunking.packOffsets(Tables(s, dir, "documents"),
          "doc_id", "text", seqTokens = 2048L, shardCol = Some("source"))
        .orderBy(col("source"), col("doc_id"))
    },
      (s"""with n as (select source, doc_id, $OracleNTokens as n from documents),
        | o as (select source, doc_id, n,
        |   coalesce(sum(n) over (partition by source order by doc_id
        |     rows between unbounded preceding and 1 preceding), 0) as off from n)
        |select source, doc_id, cast(n as bigint) as n_tokens,
        |  cast(floor(off / 2048.0) as bigint) as seq_id
        |from o
        |order by source, doc_id""".stripMargin)),

    // Domain-level curation under the gate (r10, FineWeb shape;
    // r16: domains are eTLD+1 under the vendored PSL): synthetic
    // URLs fan documents over 7 registered domains (siteN.example —
    // .example is unlisted, so the implicit "*" rule applies) through
    // three authority spellings (www+port / userinfo@deep-subdomain /
    // uppercase — all must collapse to ONE registered domain or the
    // per-domain counts fragment and the hash breaks; the cdn.m.
    // deep-subdomain arm is exactly what the pre-r16 full-host key
    // got wrong); two domains are flooded with an identical
    // boilerplate body (corpus-wide md5 dup mark), one 3-doc domain
    // is pure boilerplate but sits under minDocs (the small-domain
    // guard), every 11th URL is unparseable (null domain → keep).
    // mean-quality threshold is disabled here (the quality formula
    // is q19's gate); dup_frac carries the decision.
    QueryDef("q97_domain_curation", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val site = concat(lit("site"), (col("doc_id") % 7).cast(StringType),
        lit(".example"))
      val url = when(col("doc_id") < 3,
          concat(lit("https://www.tiny.example/p/"), id))
        .when(col("doc_id") % 11 === 0, lit("not a url"))
        .when(col("doc_id") % 3 === 0,
          concat(lit("https://www."), site, lit(":443/p/"), id))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://crawler@cdn.m."), site, lit("/p/"), id))
        .otherwise(concat(lit("HTTPS://"), upper(site), lit("/p/"), id))
      val body = when(col("doc_id") < 3 ||
          ((col("doc_id") % 7 === 0 || col("doc_id") % 7 === 1) &&
            col("doc_id") % 3 =!= 0),
          lit("identical boilerplate body"))
        .otherwise(col("text"))
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), url.as("url"), body.as("body"))
      Corpus.curateByDomain(docs, "url", "body",
          minDocs = 5, maxDupFrac = 0.4, minMeanQuality = -1.0)
        .select(col("doc_id"), col("domain"), col("n_docs"),
          col("dup_frac"), col("keep"))
        .orderBy(col("doc_id"))
    },
      // domain-curation twin: domains and bodies re-derive from the
      // generation formulas (the URL spelling variants all collapse to
      // one domain by construction); the dup mark is the same
      // corpus-wide md5 count the engine computes
      """with d as (select doc_id,
        |    case when doc_id < 3 then 'tiny.example'
        |         when doc_id % 11 = 0 then null
        |         else 'site' || (doc_id % 7) || '.example' end as domain,
        |    case when doc_id < 3 or (doc_id % 7 in (0,1) and doc_id % 3 <> 0)
        |         then 'identical boilerplate body' else text end as body
        |  from documents),
        | k as (select doc_id, domain, md5(body) as k from d),
        | kn as (select k, count(*) as n from k group by k),
        | m as (select k.doc_id, k.domain,
        |    case when kn.n > 1 then 1 else 0 end as dup
        |  from k join kn using (k)),
        | stats as (select domain, count(*) as n_docs, sum(dup) as n_dup
        |  from m where domain is not null group by domain)
        |select m.doc_id, m.domain, stats.n_docs,
        |  cast(stats.n_dup as double) / cast(stats.n_docs as double) as dup_frac,
        |  (m.domain is null or stats.n_docs < 5 or
        |   not (cast(stats.n_dup as double) / cast(stats.n_docs as double) > 0.4))
        |    as keep
        |from m left join stats using (domain)
        |order by doc_id""".stripMargin),

    // Corpus TF-IDF under the gate: termFrequencies → df join → top-3
    // terms per doc. Scored with the exact linear ratio tf*N/df (IEEE
    // +,*,/ are correctly rounded → bitwise-identical across engines;
    // log is not — the log form is spec'd instead, Corpus.tfidf).
    QueryDef("q58_tfidf_topterms", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val n = docs.count()
      // df as a COUNT WINDOW over one term-keyed exchange (r19, the
      // r18 "not yet #1"): the scan+explode+tf-agg subtree used to
      // appear on BOTH branches of the tf⋈dfreq join, and a shared
      // repartition alone cannot fix it — column pruning elides the
      // tf (and id) columns from the dfreq branch, so the two
      // exchange subtrees never canonicalize together. A window
      // partitioned by term rides the SAME exchange output: one scan,
      // one Generate, no join. df = count(*) per term over the tf
      // table — value-identical to the groupBy census (the DuckDB
      // twin keeps the join spelling; counts are equal by
      // definition), and the score expression tree is unchanged.
      val tf = Corpus.termFrequencies(docs, "doc_id", "text")
        .repartition(col("term"))
      val scored = tf
        .withColumn("df", count(lit(1)).over(
          Window.partitionBy(col("term"))))
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          (col("tf").cast(DoubleType) *
            (lit(n).cast(DoubleType) / col("df").cast(DoubleType))).as("score"))
      scored.withColumn("_rn",
          row_number().over(Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("term"))))
        .filter(col("_rn") <= 3)
        .drop("_rn")
        .orderBy(col("doc_id"), col("term"))
    },
      s"""with d as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, unnest(string_split(norm, ' ')) as term from d),
        |tf as (select doc_id, term, count(*) as tf from t
        |  where term <> '' group by doc_id, term),
        |dfreq as (select term, count(*) as df from tf group by term),
        |n as (select count(*) as n from documents),
        |s as (select tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    cast(tf.tf as double) * (cast(n.n as double) / cast(dfreq.df as double)) as score
        |  from tf join dfreq using (term) cross join n),
        |r as (select *, row_number() over (partition by doc_id
        |    order by score desc, term) as rn from s)
        |select doc_id, term, cast(tf as bigint) as tf, cast(df as bigint) as df, score
        |from r where rn <= 3
        |order by doc_id, term""".stripMargin),

    // Deterministic stratified sampling under the gate: every 7th doc
    // per language in doc_id order (Corpus.systematicSample — the
    // SQL-expressible variant; the shuffle-free hashSample is spec'd).
    QueryDef("q59_stratified_sample", { (s, dir) =>
      Corpus.systematicSample(
          Tables(s, dir, "documents").select(col("doc_id"), col("lang")),
          "lang", "doc_id", every = 7)
        .orderBy(col("doc_id"))
    },
      """with r as (select doc_id, lang,
        |    row_number() over (partition by lang order by doc_id) as rn
        |  from documents)
        |select doc_id, lang from r where (rn - 1) % 7 = 0
        |order by doc_id""".stripMargin),

    // Language-ID serving under the gate (r13): the quantized NB
    // score path over md5-hash-bucketed char 1/2/3-gram features with
    // a FIXED literal (lang, gram, weight) model — the q100
    // discipline (training is spec-gated: ln has no engine-identical
    // twin; serving is exact integer arithmetic). The hash gates the
    // FULL path: script-preserving normalization, per-order gram
    // enumeration, bucket derivation, within-language collision
    // summing, the prior + n_grams·floor + Σ hits algebra, the
    // (−score, lang) argmax tie-break, and the zero-evidence → 'und'
    // rule. A bug in any of them moves (lang, score_q, n_hit).
    QueryDef("q123_langid_serve", { (s, dir) =>
      import s.implicits._
      val langTable = LangGateLangs.toDF("lang", "q_prior", "q_floor")
      val weights = LangGateWeights.toDF("lang", "gram", "qdw")
        .select(col("lang"),
          operators.LangId.bucket(col("gram"), LangGateDim).as("bucket"),
          col("qdw"))
      operators.LangId.classifyQuantized(Tables(s, dir, "documents"),
          "doc_id", "text", langTable, weights, LangGateDim,
          family = "md5") // the oracle family; production serves xxh64
        .select(col("id").as("doc_id"), col("lang"), col("score_q"),
          col("n_grams"), col("n_hit"))
        .orderBy(col("doc_id"))
    },
      // langid-serving twin: the same literal (lang, gram, weight)
      // model bucketed by the same md5-prefix formula; char n-grams of
      // orders 1/2/3 over the SCRIPT-PRESERVING normalization (lower +
      // whitespace collapse — note the 'g' flag, the q73 lesson);
      // integer score algebra, desc-score/asc-lang argmax, und on zero
      // evidence
      s"""with $OracleLangIdCtes
        |select doc_id,
        |  case when any_hit = 0 then 'und' else lang end as lang,
        |  cast(score_q as bigint) as score_q,
        |  cast(n_grams as bigint) as n_grams,
        |  cast(n_hit as bigint) as n_hit
        |from best where rn = 1
        |order by doc_id""".stripMargin,
      tags = Set(Tag.Langid("md5"))),

    // Trained-lang composition under the gate (r14, the r13
    // verdict's #8 closing clause): the PRODUCTION swap-in path —
    // Text.withLangId(trained = Some(q)), which routes through the
    // fingerprint join-back form (label per DISTINCT text, joined
    // back by md5 — deterministic under recomputation) — feeding a
    // CCNet-shape per-language composition. q123 gates the scoring
    // algebra per doc; this gates that the Quantized-model OBJECT,
    // the withLangId delegation, the distinct-text dedup and the
    // group-by compose end-to-end to the same labels.
    QueryDef("q128_trained_lang_composition", { (s, dir) =>
      import s.implicits._
      val weights = LangGateWeights.toDF("lang", "gram", "qdw")
        .select(col("lang"),
          operators.LangId.bucket(col("gram"), LangGateDim).as("bucket"),
          col("qdw"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      val q = operators.LangId.Quantized(LangGateLangs, weights,
        LangGateDim, Seq(1, 2, 3), 1e6, "md5")
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      functions.Text.withLangId(docs, "text", "lang", trained = Some(q))
        .select(col("lang"),
          Text.tokenCount(col("text")).cast(LongType).as("_nt"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("sum_tokens"))
        .orderBy(col("lang"))
    },
      // trained-lang composition twin (r14, verdict #8's closing
      // clause): the shared q123 chain to the per-doc label (argmax +
      // und rule), then the CCNet-shape group-by — the twin of the
      // PRODUCTION swap-in path (Text.withLangId(trained), fingerprint
      // join-back form)
      s"""with $OracleLangIdCtes,
        |lab as (select doc_id,
        |    case when any_hit = 0 then 'und' else lang end as lang
        |  from best where rn = 1)
        |select l.lang,
        |  cast(count(*) as bigint) as n_docs,
        |  cast(sum($OracleNTokens) as bigint) as sum_tokens
        |from lab l join documents using (doc_id)
        |group by l.lang
        |order by l.lang""".stripMargin,
      tags = Set(Tag.Langid("md5"))),

    // Per-domain boilerplate removal (r15): site chrome (a nav header
    // planted in ~90% of each domain's pages) is dropped EVERYWHERE,
    // a 33%-frequency footer survives, and the `tiny` domain (6 docs
    // < minDocs) keeps its header even at ~83% frequency — the
    // statistical-basis exemption under the hash. Twin recomputes the
    // per-(domain, line) document frequencies and the rebuild in SQL.
    QueryDef("q134_boilerplate_removal", { (s, dir) =>
      val dom = when(col("doc_id") % 97 === 0, lit("tiny"))
        .otherwise(concat(lit("d"), (col("doc_id") % 5).cast(StringType)))
      val header = concat(lit("nav "), dom, lit(" home about contact"))
      val footer = concat(lit("copyright "), dom, lit(" example"))
      val docs = Tables(s, dir, "documents")
        .withColumn("url", concat(lit("http://"), dom, lit(".example/p"),
          col("doc_id").cast(StringType)))
        .withColumn("page", concat(
          when(col("doc_id") % 10 =!= 0, concat(header, lit("\n"))).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 3 === 0, concat(lit("\n\n"), footer)).otherwise(lit(""))))
      Corpus.removeBoilerplate(docs, "doc_id", "url", "page",
          minFrac = 0.5, minDocs = 10)
        .select(col("doc_id"), col("text_clean"),
          col("n_lines").cast(LongType).as("n_lines"),
          col("n_removed").cast(LongType).as("n_removed"))
        .orderBy(col("doc_id"))
    },
      // boilerplate-removal twin (r15): q83's line-explode device with
      // per-(domain, line) document frequencies replacing the
      // first-occurrence winner — lines at >= 50% of a >= 10-doc
      // domain drop everywhere, empty lines always survive
      """with d as (
        |  select doc_id, text,
        |    case when doc_id % 97 = 0 then 'tiny' else 'd' || (doc_id % 5) end as dom
        |  from documents),
        |t as (
        |  select doc_id, dom,
        |    case when doc_id % 10 <> 0
        |      then 'nav ' || dom || ' home about contact' || chr(10) else '' end
        |    || text
        |    || case when doc_id % 3 = 0
        |      then chr(10) || chr(10) || 'copyright ' || dom || ' example' else '' end as page
        |  from d),
        |l as (select doc_id, dom, pos, split[pos] as line from
        |  (select doc_id, dom, split, unnest(range(1, len(split)+1)) as pos
        |   from (select doc_id, dom, string_split(page, chr(10)) as split from t))),
        |nd as (select dom, count(*) as nd from t group by dom),
        |ldf as (select dom, line, count(distinct doc_id) as df
        |  from l where length(line) > 0 group by dom, line),
        |b as (select ldf.dom, ldf.line from ldf join nd using (dom)
        |  where nd.nd >= 10 and cast(ldf.df as double) >= cast(nd.nd as double) * 0.5),
        |kp as (select l.doc_id, l.pos, l.line from l
        |  left join b on l.dom = b.dom and l.line = b.line
        |  where b.line is null),
        |r as (select doc_id, string_agg(line, chr(10) order by pos) as text_clean,
        |    count(*) as kept
        |  from kp group by doc_id)
        |select t.doc_id, coalesce(r.text_clean, '') as text_clean,
        |  cast(len(string_split(t.page, chr(10))) as bigint) as n_lines,
        |  cast(len(string_split(t.page, chr(10))) - coalesce(r.kept, 0) as bigint) as n_removed
        |from t left join r using (doc_id)
        |order by t.doc_id""".stripMargin),

    // Token-exact sequence packing (r15): per-shard concat-and-split
    // of arithmetic token arrays (len = doc_id%7+1, EOS 0 after each
    // doc) into 16-token blocks — blocks span document boundaries,
    // the final partial block per shard emits short. Twin replays the
    // cumulative offsets, per-position placement and block grouping
    // with a window + lateral unnest.
    QueryDef("q146_token_packing", { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 4).as("shard"),
        sequence(col("doc_id") * 100,
          col("doc_id") * 100 + (col("doc_id") % 7)).as("toks"))
      operators.Chunking.packTokenBlocks(docs, "doc_id", "toks",
          blockSize = 16, eosId = 0L, shardCol = Some("shard"))
        .orderBy(col("shard"), col("block_id"))
    },
      // token-packing twin (r15): per-shard cumulative offsets (window
      // sum), per-token placement via lateral unnest (i = len marks the
      // EOS), blocks = integer division on the position
      """with d as (select doc_id, doc_id % 4 as shard,
        |    (doc_id % 7) + 1 as len from documents),
        |o as (select doc_id, shard, len,
        |    coalesce(sum(len + 1) over (partition by shard order by doc_id
        |      rows between unbounded preceding and 1 preceding), 0) as st from d),
        |t as (select shard, cast(o.st + u.i as bigint) as p, u.i as i,
        |    case when u.i < len then doc_id * 100 + u.i else 0 end as tok
        |  from o, unnest(generate_series(0, o.len)) as u(i))
        |select shard, p // 16 as block_id,
        |  string_agg(cast(tok as varchar), ' ' order by p) as token_ids,
        |  count(*) as n_tokens,
        |  coalesce(string_agg(case when i = 0 then cast(p % 16 as varchar) end,
        |    ' ' order by p), '') as doc_starts
        |from t group by shard, p // 16
        |order by shard, block_id""".stripMargin),

    // C4 cleaning rules (r15): Raffel 2020's line gate (terminal
    // punctuation + ≥5 words) with the page blocks (curly brace,
    // "lorem ipsum" case-insensitive) and the ≥2-surviving-lines
    // floor — one arm per rule, all from doc_id arithmetic: the %7
    // docs lose their second good line (page fails the floor), %13
    // adds a brace line, %17 a Lorem Ipsum line (blocked even though
    // the lorem line itself fails the line gate). Twin re-derives
    // every flag, counter and the cleaned text.
    QueryDef("q149_c4_clean", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val l1 = concat(lit("This is a good long sentence number "), id, lit("."))
      val l4 = when(col("doc_id") % 7 =!= 0,
          concat(lit("Another proper sentence with enough words "), id, lit("!")))
        .otherwise(lit("short."))
      val base = concat_ws("\n", l1, lit("Tiny line."),
        lit("No terminal punctuation in this line at all"), l4)
      val withBrace = when(col("doc_id") % 13 === 0,
        concat(base, lit("\ncode { brace"))).otherwise(base)
      val text = when(col("doc_id") % 17 === 0,
        concat(withBrace, lit("\nContains Lorem Ipsum filler."))).otherwise(withBrace)
      Corpus.c4Clean(
          Tables(s, dir, "documents").select(col("doc_id"), text.as("text")),
          "doc_id", "text", minLineWords = 5, minLines = 2)
        .orderBy(col("doc_id"))
    },
      // c4-clean twin (r15): every rule re-derived from the %7/%13/%17
      // arithmetic — kept pages rebuild their two surviving lines
      """with d as (select doc_id,
        |    (doc_id % 7 <> 0) as l4ok,
        |    (doc_id % 13 = 0) as brace, (doc_id % 17 = 0) as lorem
        |  from documents)
        |select doc_id,
        |  (l4ok and not brace and not lorem) as kept,
        |  cast(4 + case when brace then 1 else 0 end
        |    + case when lorem then 1 else 0 end as bigint) as n_lines,
        |  cast(case when l4ok then 2 else 1 end as bigint) as n_kept,
        |  case when l4ok and not brace and not lorem then
        |    'This is a good long sentence number ' || doc_id || '.' || chr(10) ||
        |    'Another proper sentence with enough words ' || doc_id || '!'
        |  end as text_clean
        |from d order by doc_id""".stripMargin),

    // Unicode-robust fingerprint dedup under the gate (r16): parity
    // pairs (key = doc_id div 2, SCALE-INVARIANT — the first cut
    // keyed on %250 broke at sf0.1) — the even doc NFC-composed
    // (é as U+00E9, ά as U+03AC), the odd doc NFD-decomposed
    // (e+U+0301, α+U+0301) — and fingerprintUnicode must land each
    // pair in ONE class while the raw md5 sees two variants (except
    // the pure-ASCII arm, where both spellings are the same bytes
    // and the NFC fast path is a no-op). The twin derives class
    // structure INDEPENDENTLY from the parity arithmetic — an
    // algorithm, fast-path or script-erasure bug (the LangId lesson)
    // splits a class or merges the ASCII arm's variant count.
    QueryDef("q158_unicode_fingerprint", { (s, dir) =>
      val key = ((col("doc_id") - pmod(col("doc_id"), lit(2))) / 2).cast(LongType)
      val k = key.cast(StringType)
      val composed = pmod(col("doc_id"), lit(2)) === 0
      val flavor = key % 3
      val text =
        when(flavor === 0 && composed,
          concat(lit("caf\u00e9 r\u00e9sum\u00e9 no "), k))
        .when(flavor === 0,
          concat(lit("cafe\u0301 re\u0301sume\u0301 no "), k))
        .when(flavor === 1 && composed,
          concat(lit("\u03b5\u03bb\u03bb\u03ac\u03b4\u03b1 "), k))
        .when(flavor === 1,
          concat(lit("\u03b5\u03bb\u03bb\u03b1\u0301\u03b4\u03b1 "), k))
        .otherwise(concat(lit("plain ascii text "), k))
      Tables(s, dir, "documents").select(col("doc_id"), text.as("t"))
        .groupBy(Text.fingerprintUnicode(col("t")).as("_fpu"))
        .agg(min(col("doc_id")).as("class_id"),
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("t"))).as("n_raw_variants"))
        .select(col("class_id"), col("n_docs"), col("n_raw_variants"))
        .orderBy(col("class_id"))
    },
      // unicode-fingerprint twin (r16): INDEPENDENT expectations from
      // the pair arithmetic (stronger than replaying nfc_normalize —
      // a shared-algorithm bug can't hide): every key is one class of
      // exactly two docs, with two raw byte-variants except the ASCII
      // arm where both spellings are the same bytes
      """with d as (select doc_id, doc_id // 2 as key, doc_id % 2 as par from documents),
        |g as (select key, count(*) as n_docs, count(distinct par) as vars
        |  from d group by key)
        |select cast(2 * key as bigint) as class_id, cast(n_docs as bigint) as n_docs,
        |  cast(case when key % 3 = 2 then 1 else vars end as bigint) as n_raw_variants
        |from g order by class_id""".stripMargin),

    // C4 bad-words page gate under the hash (r17): Raffel 2020's
    // other page rule — any page containing a word from the block
    // list dies wholesale, matched at WORD BOUNDARIES (case-folded,
    // punctuation-tolerant). Arms: %3 docs carry a blocked token
    // ("Shit," — case + trailing comma must still match) on an
    // otherwise-keepable line (the LINE survives its own rules, the
    // PAGE dies — gate vs line-rule independence); %5==1 docs carry
    // "dickens"/"shitake" — superstrings of list words that must NOT
    // match (the substring-gate false positive this arm exists to
    // catch); the short unpunctuated line fails the line rules
    // everywhere. Twin restates the outcome from the arm arithmetic.
    QueryDef("q160_c4_badwords", { (s, dir) =>
      val id = col("doc_id").cast(StringType)
      val l1 = concat(lit("the first line of document "), id,
        lit(" has plenty of words."))
      val l2 = when(col("doc_id") % 5 === 1,
          lit("the dickens classic shitake story is surely long enough."))
        .otherwise(
          lit("another perfectly normal sentence follows right here today."))
      val l3 = lit("short line")
      val l4 = lit("this page also mentions Shit, somewhere else.")
      val text = when(col("doc_id") % 3 === 0, concat_ws("\n", l1, l2, l3, l4))
        .otherwise(concat_ws("\n", l1, l2, l3))
      Corpus.c4Clean(
          Tables(s, dir, "documents").select(col("doc_id"), text.as("text")),
          "doc_id", "text", minLines = 2,
          blockWords = graft.functions.Text.BadWordsEnglish)
        .select(col("doc_id"), col("kept"),
          col("n_lines").cast(LongType).as("n_lines"),
          col("n_kept").cast(LongType).as("n_kept"),
          col("text_clean"))
        .orderBy(col("doc_id"))
    },
      // c4-badwords twin (r17): outcomes restated from the %3/%5 arm
      // arithmetic — the %3 page is blocked by the word gate (its extra
      // line passes the LINE rules, hence n_kept 3 with kept=false),
      // the %5==1 superstring arm ("dickens"/"shitake") must survive
      """with d as (select doc_id, doc_id % 3 = 0 as blocked,
        |    doc_id % 5 = 1 as v from documents)
        |select doc_id, not blocked as kept,
        |  cast(case when blocked then 4 else 3 end as bigint) as n_lines,
        |  cast(case when blocked then 3 else 2 end as bigint) as n_kept,
        |  case when blocked then null
        |    else 'the first line of document ' || doc_id || ' has plenty of words.'
        |      || chr(10) ||
        |      case when v then 'the dickens classic shitake story is surely long enough.'
        |        else 'another perfectly normal sentence follows right here today.' end
        |    end as text_clean
        |from d order by doc_id""".stripMargin),

    // Temperature-weighted mixing under the gate (r17): four strata
    // of deliberately uneven sizes (web 3/7, wiki 2/7, code 1/7,
    // books 1/7 of the corpus) through alpha=0.5 at a 200-doc budget
    // — sqrt weighting upsamples the small strata relative to
    // proportional (the operator's reason to exist; the twin's floor
    // arithmetic re-derives the exact per-stratum targets, and the
    // md5 ranking pins WHICH documents are kept, not just how many).
    // alpha=0.5 routes through IEEE sqrt and the fixture's targets
    // sit far from floor boundaries (….62/.95/.85 at both SFs), so
    // the double arithmetic is engine-safe under the hash.
    QueryDef("q161_temperature_mix", { (s, dir) =>
      val m = col("doc_id") % 7
      val stratum = when(m < 3, lit("web")).when(m < 5, lit("wiki"))
        .when(m === 5, lit("code")).otherwise(lit("books"))
      Corpus.temperatureMix(
          Tables(s, dir, "documents").select(col("doc_id"), stratum.as("stratum")),
          "stratum", "doc_id", totalBudget = 200L, alpha = 0.5,
          seed = "v1", family = "md5")
        .select(col("doc_id"), col("stratum"))
        .orderBy(col("doc_id"))
    },
      // temperature-mix twin (r17): identical weight/floor arithmetic
      // (sqrt is IEEE-correctly-rounded, so the doubles agree
      // bit-for-bit) and the same md5('v1:'||id) per-stratum ranking —
      // a weighting, flooring, ranking or family bug moves a kept id
      """with d as (select doc_id,
        |    case when doc_id % 7 < 3 then 'web' when doc_id % 7 < 5 then 'wiki'
        |      when doc_id % 7 = 5 then 'code' else 'books' end as stratum
        |  from documents),
        |n as (select stratum, count(*) as n from d group by stratum),
        |w as (select stratum, n, sqrt(cast(n as double)) as w from n),
        |s as (select sum(w) as sw from w),
        |k as (select stratum, least(n, cast(floor(200.0 * w / sw) as bigint)) as k
        |  from w, s),
        |r as (select doc_id, stratum,
        |    row_number() over (partition by stratum
        |      order by md5('v1:' || doc_id), doc_id) as rn from d)
        |select r.doc_id, r.stratum from r join k using (stratum)
        |where rn <= k.k order by r.doc_id""".stripMargin),

    // Deterministic training-order shuffle under the gate (r16):
    // shard + in-shard position as a pure function of (seed, id) —
    // md5 over "v1:<id>", shard = 15-hex-prefix int64 mod 8, seq =
    // dense rank within the shard over (hash, id). The twin replays
    // the identical arithmetic; a hash-input, prefix-width, modulo
    // or ordering bug moves every position.
    QueryDef("q156_shuffle_shards", { (s, dir) =>
      Corpus.shuffleShards(Tables(s, dir, "documents").select(col("doc_id")),
          "doc_id", seed = "v1", nShards = 8)
        .select(col("doc_id"), col("shard"), col("seq"))
        .orderBy(col("doc_id"))
    },
      // shuffle twin (r16): the identical md5-prefix arithmetic — the
      // LangId bucket convention ('0x'||15 hex)::bigint — and the same
      // (hash, id) window order
      """with s as (select doc_id, md5('v1:' || doc_id) as sk from documents),
        |b as (select doc_id, sk,
        |    ('0x' || substr(sk, 1, 15))::bigint % 8 as shard from s)
        |select doc_id, shard,
        |  cast(row_number() over (partition by shard order by sk, doc_id) - 1
        |    as bigint) as seq
        |from b order by doc_id""".stripMargin),

    // doc_id per content fingerprint) → chunking — aggregated per
    // source. Each stage is individually oracled (q19/q15/q39); this
    // gates their composition.
    QueryDef("q41_curation_pipeline", { (s, dir) =>
      val kept = Tables(s, dir, "documents")
        .withColumn("quality", Text.qualityScore(col("text")))
        .filter(col("quality") >= 0.5)
        .withColumn("_fp", Text.fingerprint(col("text")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_fp")).orderBy(col("doc_id"))
      val deduped = kept.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
      deduped
        .select(col("source"), Text.tokens(col("text")).as("_toks"))
        .select(col("source"),
          operators.Chunking.chunksFromTokens(col("_toks"), 64, 48).as("_chunks"))
        .select(col("source"),
          size(col("_chunks")).cast(LongType).as("_nc"),
          aggregate(transform(col("_chunks"), c => size(split(c, " "))),
            lit(0), (a, b) => a + b).cast(LongType).as("_ct"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("_nc")).as("n_chunks"),
          sum(col("_ct")).as("sum_chunk_tokens"))
        .orderBy(col("source"))
    },
      (s"""with q as (
        |  select doc_id, source, text,
        |    0.4 * least(cast($OracleNTokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(len(list_filter($OracleTokens, t -> t in ($OracleStop))) as double)
        |        / cast(greatest($OracleNTokens, 1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0)) as quality
        |  from documents),
        | f as (select doc_id, source, text, md5($OracleNorm) as fp
        |   from q where quality >= 0.5),
        | d as (select doc_id, source, text from f
        |   qualify row_number() over (partition by fp order by doc_id) = 1),
        | t as (select doc_id, source, $OracleTokens as toks from d),
        | c as (select source,
        |   list_filter(list_transform(range(1, greatest(len(toks),1)+1, 48),
        |     st -> array_to_string(toks[st:st+63], ' ')), x -> length(x) > 0) as chunks
        |  from t)
        |select source,
        |  count(*) as n_docs,
        |  cast(sum(len(chunks)) as bigint) as n_chunks,
        |  cast(sum(coalesce(list_sum(list_transform(chunks,
        |    x -> len(string_split(x, ' ')))), 0)) as bigint) as sum_chunk_tokens
        |from c
        |group by source
        |order by source""".stripMargin)),

    // Benchmark decontamination under the gate: src0 plays the eval
    // benchmark, the other 19 sources the training corpus; token
    // trigrams (production uses 13-grams — the fixture docs are ~30
    // tokens). Broadcast benchmark gram set → map-side join; both
    // per-doc aggregates partial-combinable. Fraction = one IEEE
    // division of exact integers (hash-exact cross-engine).
    QueryDef("q66_decontamination", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Corpus.contamination(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_hits"),
          col("contamination_frac"))
        .orderBy(col("doc_id"))
    },
      s"""with d as (select doc_id, source, string_split($OracleNorm, ' ') as w from documents),
        |g as (select doc_id, source, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(w)-3+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+2), ' ')))) as gram
        |  from d),
        |bg as (select distinct gram from g where source = 'src0')
        |select g.doc_id, count(*) as n_grams,
        |  cast(sum(case when bg.gram is not null then 1 else 0 end) as bigint) as n_hits,
        |  cast(sum(case when bg.gram is not null then 1 else 0 end) as double)
        |    / cast(greatest(count(*), 1) as double) as contamination_frac
        |from g left join bg using (gram) where g.source <> 'src0'
        |group by g.doc_id
        |order by g.doc_id""".stripMargin),

    // Gopher-style repetition signals under the gate: per-doc top
    // bigram coverage and duplicate-bigram occurrence fraction over
    // the whole documents table, left-joined back so sub-bigram docs
    // surface as zero repetition rather than vanishing.
    QueryDef("q67_repetition_signals", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val sig = Corpus.repetitionSignals(docs, "doc_id", "text", n = 2)
      docs.select(col("doc_id"))
        .join(sig.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("top_cnt"), lit(0L)).as("top_cnt"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("top_gram_frac"), lit(0.0)).as("top_gram_frac"),
          coalesce(col("dup_gram_frac"), lit(0.0)).as("dup_gram_frac"))
        .orderBy(col("doc_id"))
    },
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |g as (select doc_id, len(w) as n_tokens, unnest(list_transform(
        |    range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as gram
        |  from d),
        |cnt as (select doc_id, n_tokens, gram, count(*) as cnt from g
        |  group by doc_id, n_tokens, gram),
        |agg as (select doc_id, n_tokens, max(cnt) as top_cnt, sum(cnt) as n_grams,
        |    sum(case when cnt > 1 then cnt else 0 end) as dup_occ
        |  from cnt group by doc_id, n_tokens)
        |select d.doc_id,
        |  coalesce(agg.top_cnt, 0) as top_cnt,
        |  cast(coalesce(agg.n_grams, 0) as bigint) as n_grams,
        |  coalesce(cast(agg.top_cnt * 2 as double)
        |    / cast(greatest(agg.n_tokens, 1) as double), 0.0) as top_gram_frac,
        |  coalesce(cast(agg.dup_occ as double)
        |    / cast(greatest(agg.n_grams, 1) as double), 0.0) as dup_gram_frac
        |from d left join agg using (doc_id)
        |order by d.doc_id""".stripMargin),

    // PII detection/redaction under the gate. The fixture tables carry
    // no real PII, so both engines deterministically CONSTRUCT the
    // same prose (name + derived email/phone/IP) from `customer`, then
    // the Spark side runs the real operator (Text.withPiiSignals) and
    // the oracle re-expresses the same regexes in RE2 — gating match
    // spans, class order, and the redacted string hash-exactly.
    QueryDef("q68_pii_redaction", { (s, dir) =>
      val raw = concat(col("c_name"), lit(" contact user"),
        col("c_custkey").cast(StringType), lit("@example.com or +1-"),
        lpad(((col("c_custkey") * 7) % 900 + 100).cast(StringType), 3, "0"),
        lit("-555-"),
        lpad(((col("c_custkey") * 13) % 10000).cast(StringType), 4, "0"),
        lit(" ip 10."), (col("c_custkey") % 256).cast(StringType),
        lit(".0."), ((col("c_custkey") * 3) % 256).cast(StringType))
      Text.withPiiSignals(
          Tables(s, dir, "customer").select(col("c_custkey"), raw.as("text")),
          "text")
        .select(col("c_custkey"),
          col("n_emails").cast(LongType).as("n_emails"),
          col("n_ips").cast(LongType).as("n_ips"),
          col("n_phones").cast(LongType).as("n_phones"),
          col("redacted"))
        .orderBy(col("c_custkey"))
    },
      """with t as (select c_custkey,
        |  c_name || ' contact user' || cast(c_custkey as varchar)
        |    || '@example.com or +1-'
        |    || lpad(cast((c_custkey*7) % 900 + 100 as varchar), 3, '0')
        |    || '-555-'
        |    || lpad(cast((c_custkey*13) % 10000 as varchar), 4, '0')
        |    || ' ip 10.' || cast(c_custkey % 256 as varchar)
        |    || '.0.' || cast((c_custkey*3) % 256 as varchar) as text
        |  from customer),
        |r as (select c_custkey, text,
        |    len(regexp_extract_all(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) as n_emails,
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') as r1
        |  from t),
        |r2 as (select c_custkey, n_emails,
        |    len(regexp_extract_all(r1,
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) as n_ips,
        |    regexp_replace(r1,
        |      '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') as rr
        |  from r),
        |r3 as (select c_custkey, n_emails, n_ips,
        |    len(regexp_extract_all(rr,
        |      '(\+?\b[0-9]{1,3}[-. ]|\([0-9]{3}\) ?)[0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?\b')) as n_phones,
        |    regexp_replace(rr,
        |      '(\+?\b[0-9]{1,3}[-. ]|\([0-9]{3}\) ?)[0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?\b', '<PHONE>', 'g') as redacted
        |  from r2)
        |select c_custkey, cast(n_emails as bigint) as n_emails,
        |  cast(n_ips as bigint) as n_ips, cast(n_phones as bigint) as n_phones, redacted
        |from r3
        |order by c_custkey""".stripMargin),

    // Corpus profiling under the gate (the q41-style COMPOSITION
    // check, for the signal stack): per-source doc/token counts,
    // language-ID agreement, unique-fingerprint count, mean quality,
    // mean bigram-duplication — one plan over langid + quality +
    // fingerprints + repetition. Double means go through decimal
    // sums (exact, order-independent) and ONE final division; counts
    // stay integer end-to-end — the whole profile hash-matches.
    QueryDef("q75_corpus_profile", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val staged = Text.withLangId(docs, "text").select(
        col("doc_id"), col("source"), col("lang"), col("lang_guess"),
        Text.qualityScore(col("text")).as("q"),
        Text.tokenCount(col("text")).cast(LongType).as("ntok"),
        Text.fingerprint(col("text")).as("fp"))
      val rep = Corpus.repetitionSignals(docs, "doc_id", "text", n = 2)
        .select(col("id").as("doc_id"), col("dup_gram_frac"))
      staged.join(rep, Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("total_tokens"),
          sum(when(col("lang_guess") === col("lang"), 1L).otherwise(0L))
            .as("n_lang_match"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("q").cast(DecimalType(18, 12))).as("_qsum"),
          sum(coalesce(col("dup_gram_frac"), lit(0.0)).cast(DecimalType(18, 12)))
            .as("_dsum"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("n_lang_match"), col("n_unique"),
          (col("_qsum").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("avg_quality"),
          (col("_dsum").cast(DoubleType) / col("n_docs").cast(DoubleType))
            .as("avg_dup_frac"))
        .orderBy(col("source"))
    },
      s"""with m as (
        |  select doc_id, source, lang, text,
        |    $OracleNTokens as n_tokens,
        |    len(list_filter($OracleTokens, t -> t in ($OracleStop))) as n_stop,
        |    cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |      / cast(greatest(length(text),1) as double) as punct_ratio,
        |    cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |      / cast(greatest(length(text),1) as double) as digit_ratio,
        |    len(list_filter($OracleTokens, t -> t in ('the','and','of','to','is','in','that','it'))) as s_en,
        |    len(list_filter($OracleTokens, t -> t in ('el','la','de','que','y','en','los','una'))) as s_es,
        |    len(list_filter($OracleTokens, t -> t in ('der','die','und','das','ist','nicht','ein','mit'))) as s_de,
        |    len(list_filter($OracleTokens, t -> t in ('le','la','les','de','et','est','un','une'))) as s_fr,
        |    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) as cjk,
        |    md5($OracleNorm) as fp
        |  from documents),
        |e as (select doc_id, source, lang, n_tokens, fp,
        |    case when cjk * 4 > length(text) then 'zh'
        |      when s_en = greatest(s_en,s_es,s_de,s_fr) and s_en > 0 then 'en'
        |      when s_es = greatest(s_en,s_es,s_de,s_fr) and s_es > 0 then 'es'
        |      when s_de = greatest(s_en,s_es,s_de,s_fr) and s_de > 0 then 'de'
        |      when s_fr = greatest(s_en,s_es,s_de,s_fr) and s_fr > 0 then 'fr'
        |      else 'und' end as lang_guess,
        |    0.4 * least(cast(n_tokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(n_stop as double) / cast(greatest(n_tokens,1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(punct_ratio * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(digit_ratio * 5.0, 1.0)) as q
        |  from m),
        |gd as (select doc_id, len(w) as gtok, unnest(list_transform(
        |    range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as gram
        |  from (select doc_id, string_split($OracleNorm, ' ') as w from documents)),
        |cnt as (select doc_id, gram, count(*) as cnt from gd group by doc_id, gram),
        |rep as (select doc_id,
        |    cast(sum(case when cnt > 1 then cnt else 0 end) as double)
        |      / cast(greatest(sum(cnt), 1) as double) as dup_gram_frac
        |  from cnt group by doc_id),
        |j as (select e.*, coalesce(rep.dup_gram_frac, 0.0) as dup_frac
        |  from e left join rep using (doc_id))
        |select source, count(*) as n_docs,
        |  cast(sum(n_tokens) as bigint) as total_tokens,
        |  cast(sum(case when lang_guess = lang then 1 else 0 end) as bigint) as n_lang_match,
        |  cast(count(distinct fp) as bigint) as n_unique,
        |  cast(sum(cast(q as decimal(18,12))) as double)
        |    / cast(count(*) as double) as avg_quality,
        |  cast(sum(cast(dup_frac as decimal(18,12))) as double)
        |    / cast(count(*) as double) as avg_dup_frac
        |from j group by source
        |order by source""".stripMargin),

    // BPE encode under the gate, with a FIXED merge list hardcoded
    // identically in both engines (training is iterative/driver-side,
    // so the oracle can't re-derive merges — it CAN re-run the encode:
    // spaced-symbol framing + chained literal replaces execute with
    // identical left-to-right scans in Java and DuckDB, so symbol
    // sequence and count hash-match). Training is spec'd against the
    // canonical Sennrich example.
    QueryDef("q76_bpe_encode", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws("|", Bpe.encode(col("text"), Q76Merges)).as("encoded"),
          Bpe.tokenCount(col("text"), Q76Merges).cast(LongType).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }, {
      val chain = Q76Merges.foldLeft("sym") { case (acc, (a, b)) =>
        s"replace($acc, ' $a $b ', ' $a$b ')"
      }
      s"""with n as (select doc_id, $OracleNorm as norm from documents),
        |s as (select doc_id, case when length(norm) = 0 then ''
        |    else ' ' || replace(regexp_replace(norm, '(.)', '\\1 ', 'g'), '   ', ' </w> ')
        |      || '</w> ' end as sym
        |  from n),
        |m as (select doc_id, $chain as merged from s),
        |t as (select doc_id,
        |    list_filter(string_split(trim(merged), ' '), x -> length(x) > 0) as toks
        |  from m)
        |select doc_id, array_to_string(toks, '|') as encoded,
        |  cast(len(list_filter(toks, x -> x <> '</w>')) as bigint) as n_bpe_tokens
        |from t order by doc_id""".stripMargin
    }),

    // q76's encode via the PRODUCTION loop path (Bpe.encodeDocs:
    // rank-greedy mapPartitions, merge-count-independent) — the gated
    // proof that the loop encoder agrees with an independent engine
    // under the same merge list.
    QueryDef("q82_bpe_encode_loop", { (s, dir) =>
      Bpe.encodeDocs(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", Q76Merges, outCol = "toks")
        .select(col("doc_id"),
          concat_ws("|", col("toks")).as("encoded"),
          size(filter(col("toks"), t => t =!= "</w>")).cast(LongType).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }, {
      // The loop encoder is list-order BPE with each merge run to
      // FIXPOINT (rank-greedy ≡ that; see Bpe.encodeWord scaladoc), so
      // the twin repeats each merge's literal replace until it can't
      // fire again — 6 nestings: fixture tokens are ≤8 symbols, an
      // adjacent-repeat chain halves per pass (3 passes), 6 is margin
      // — IN MERGE ORDER, before the next merge's replaces.
      val chain = Q76Merges.foldLeft("sym") { case (acc, (a, b)) =>
        (1 to 6).foldLeft(acc) { case (e, _) => s"replace($e, ' $a $b ', ' $a$b ')" }
      }
      s"""with n as (select doc_id, $OracleNorm as norm from documents),
        |s as (select doc_id, case when length(norm) = 0 then ''
        |    else ' ' || replace(regexp_replace(norm, '(.)', '\\1 ', 'g'), '   ', ' </w> ')
        |      || '</w> ' end as sym
        |  from n),
        |m as (select doc_id, $chain as merged from s),
        |t as (select doc_id,
        |    list_filter(string_split(trim(merged), ' '), x -> length(x) > 0) as toks
        |  from m)
        |select doc_id, array_to_string(toks, '|') as encoded,
        |  cast(len(list_filter(toks, x -> x <> '</w>')) as bigint) as n_bpe_tokens
        |from t order by doc_id""".stripMargin
    }),

    // Data mixing under the gate: per-source systematic rates (src0
    // keeps 1/2, src1 1/3, src2 1/4, everything else 1/5) — the
    // deterministic mixture-targeting sampler.
    QueryDef("q77_data_mixing", { (s, dir) =>
      Corpus.mixSystematic(
          Tables(s, dir, "documents").select(col("doc_id"), col("source")),
          "source", "doc_id",
          Map("src0" -> 2, "src1" -> 3, "src2" -> 4), defaultEvery = 5)
        .orderBy(col("doc_id"))
    },
      """with r as (select doc_id, source,
        |    row_number() over (partition by source order by doc_id) as rn,
        |    case source when 'src0' then 2 when 'src1' then 3
        |      when 'src2' then 4 else 5 end as k
        |  from documents)
        |select doc_id, source from r where (rn - 1) % k = 0
        |order by doc_id""".stripMargin),

    // HTML boilerplate stripping under the gate: both engines build
    // the same markup from `part` (tags, attributes, entities, script
    // and conditional style elements with bodies) and strip it — tag
    // spans, element-body drops, entity decode order and whitespace
    // collapse all cross the hash.
    // r14 entity matrix (every 3rd part): named Latin-1/punctuation
    // entities, decimal + hex numeric refs (incl. a supplementary-
    // plane 𝄞), `&nbsp;` folding into the whitespace collapse,
    // single-pass `&amp;lt;` → literal "&lt;", and pass-through of
    // unknown names / malformed refs — the twin carries the decoded
    // segment as a literal
    QueryDef("q80_html_strip", { (s, dir) =>
      val raw = concat(
        lit("<html><body><h1>"), col("p_name"),
        lit("</h1><p class=\"x\">"), col("p_brand"),
        lit(" &amp; "), col("p_type"),
        lit("</p><script>var z = 1 < 2;</script>"),
        when(col("p_partkey") % 5 === 0,
          lit("<SCRIPT type=\"text/javascript\">leak();</SCRIPT>")).otherwise(lit("")),
        when(col("p_partkey") % 7 === 0,
          lit("<Style>.a{color:red}</STYLE>")).otherwise(lit("")),
        when(col("p_partkey") % 3 === 0,
          lit("<p>caf&eacute; r&#233;sum&#xE9; &mdash; &#8212; " +
            "l&rsquo;&Eacute;t&eacute; &hellip; &euro;5 &#x1D11E; " +
            "a&nbsp;b &amp;lt; &unknown; &#xZZ; &#; 1 &lt; 2</p>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      Tables(s, dir, "part")
        .select(col("p_partkey"), Text.stripHtml(raw).as("text"))
        .orderBy(col("p_partkey"))
    },
      """with t as (select p_partkey,
        |    '<html><body><h1>' || p_name || '</h1><p class="x">' || p_brand
        |      || ' &amp; ' || p_type || '</p><script>var z = 1 < 2;</script>'
        |      || case when p_partkey % 5 = 0 then '<SCRIPT type="text/javascript">leak();</SCRIPT>' else '' end
        |      || case when p_partkey % 7 = 0 then '<Style>.a{color:red}</STYLE>' else '' end
        |      || case when p_partkey % 3 = 0 then '<p>caf&eacute; r&#233;sum&#xE9; &mdash; &#8212; l&rsquo;&Eacute;t&eacute; &hellip; &euro;5 &#x1D11E; a&nbsp;b &amp;lt; &unknown; &#xZZ; &#; 1 &lt; 2</p>' else '' end
        |      || '</body></html>' as raw
        |  from part),
        |s1 as (select p_partkey,
        |    regexp_replace(regexp_replace(raw,
        |      '(?is)<script([ \t\n\x0B\f\r][^>]*)?>.*?</script>', ' ', 'g'),
        |      '(?is)<style([ \t\n\x0B\f\r][^>]*)?>.*?</style>', ' ', 'g') as x
        |  from t),
        |s2 as (select p_partkey, regexp_replace(x, '<[^>]*>', ' ', 'g') as x from s1),
        |s3 as (select p_partkey,
        |    replace(replace(replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(replace(replace(replace(replace(replace(x,
        |      '&eacute;', 'é'), '&Eacute;', 'É'), '&#233;', 'é'), '&#xE9;', 'é'),
        |      '&mdash;', '—'), '&#8212;', '—'), '&rsquo;', '’'),
        |      '&hellip;', '…'), '&euro;', '€'), '&#x1D11E;', '𝄞'),
        |      '&nbsp;', chr(160)),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |      '&#39;', ''''), '&amp;', '&') as x
        |  from s2)
        |select p_partkey, trim(regexp_replace(x, '[ \t\n\x0B\f\r\x{00A0}]+', ' ', 'g')) as text
        |from s3
        |order by p_partkey""".stripMargin),

    // Token-budget selection under the gate: best-quality docs until
    // the cumulative token count reaches 5000 (the crossing doc is
    // included). The exact global-cumsum form — the scale path is a
    // quantile threshold (see Corpus.selectByBudget scaladoc).
    QueryDef("q79_budget_selection", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Corpus.selectByBudget(
          docs.select(col("doc_id"),
            Text.qualityScore(col("text")).as("quality"),
            Text.tokenCount(col("text")).cast(LongType).as("n_tokens")),
          "quality", "n_tokens", "doc_id", budget = 5000L)
        .orderBy(col("doc_id"))
    },
      s"""with q as (select doc_id,
        |    0.4 * least(cast($OracleNTokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(len(list_filter($OracleTokens, t -> t in ($OracleStop))) as double)
        |        / cast(greatest($OracleNTokens, 1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0)) as quality,
        |    cast($OracleNTokens as bigint) as n_tokens
        |  from documents),
        |c as (select doc_id, quality, n_tokens,
        |    coalesce(sum(n_tokens) over (order by quality desc, doc_id
        |      rows between unbounded preceding and 1 preceding), 0) as cum
        |  from q)
        |select doc_id, quality, n_tokens from c where cum < 5000
        |order by doc_id""".stripMargin),

    // LM quality scoring under the gate: a bigram model trained on the
    // EVEN documents scores the ODD ones (cross-split, so OOV bigrams
    // actually occur). The integer columns — bigram/hit/OOV counts and
    // summed training counts — cross the hash; the ln-based ll/ppl are
    // spec'd against driver math (ln is not engine-identical, the q58
    // lesson).
    QueryDef("q84_lm_score", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Corpus.bigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      Corpus.lmScore(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_hit"),
          col("n_oov"), col("sum_c12"))
        .orderBy(col("doc_id"))
    },
      s"""with n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |b as (select doc_id, w[i] as w1, w[i + 1] as w2
        |  from (select doc_id, w, unnest(range(1, len(w))) as i from t)),
        |m as (select w1, w2, count(*) as cnt from b where doc_id % 2 = 0 group by 1, 2),
        |s as (select b.doc_id,
        |    count(*) as n_bigrams,
        |    sum(case when m.cnt is not null then 1 else 0 end) as n_hit,
        |    sum(case when m.cnt is null then 1 else 0 end) as n_oov,
        |    sum(coalesce(m.cnt, 0)) as sum_c12
        |  from b left join m on b.w1 = m.w1 and b.w2 = m.w2
        |  where b.doc_id % 2 = 1
        |  group by 1)
        |select doc_id, cast(n_bigrams as bigint) as n_bigrams,
        |  cast(n_hit as bigint) as n_hit, cast(n_oov as bigint) as n_oov,
        |  cast(sum_c12 as bigint) as sum_c12
        |from s order by doc_id""".stripMargin),

    // Tar-shard export under the gate (r10): documents' UTF-8 texts
    // packed as WebDataset-style ustar shards, manifest read back by
    // the INDEPENDENT header-walk parser — the twin re-derives every
    // md5-prefix shard assignment, per-shard payload byte sums, and
    // the closed tar-size formula (512-byte header + padded payload
    // per member + 1024 trailer). A header-layout, padding,
    // assignment or trailer bug shifts tar_bytes and breaks the
    // hash. (GNU tar itself lists/extracts these archives in the
    // spec — the foreign validator.)
    QueryDef("q102_tar_shard_export", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q102").getAbsolutePath
      TarShards.write(
          Tables(s, dir, "documents")
            .select(col("doc_id").cast(StringType).as("k"),
              col("text").cast(BinaryType).as("p")),
          "k", "p", "txt", base, nShards = 8)
        .orderBy(col("shard"))
    },
      // tar-shard twin: md5-prefix assignment + octet lengths + the
      // closed ustar size formula, all in SQL
      """with d as (select cast(doc_id as varchar) as k,
        |    octet_length(encode(text)) as len
        |  from documents),
        |a as (select ('0x' || substr(md5(k), 1, 8))::bigint % 8 as shard, len from d)
        |select cast(shard as int) as shard,
        |  cast(count(*) as bigint) as n_files,
        |  cast(sum(len) as bigint) as payload_bytes,
        |  cast(sum(512 + 512 * ((len + 511) // 512)) + 1024 as bigint) as tar_bytes
        |from a
        |group by shard
        |order by shard""".stripMargin),

    // SQL text-signal surface under the gate (r10): the SAME
    // quality/token/fingerprint signals q16/q18/q19 gate, but CALLED
    // THROUGH SQL via the registered function surface — what a
    // ServeSql/RunSql analyst types. Registration-drift (a macro
    // renamed, an arity change, a builder wiring bug) breaks this
    // hash even while the Column-API gates stay green.
    QueryDef("q105_sql_text_surface", { (s, dir) =>
      Abi.registerSqlFunctions(s)
      Tables(s, dir, "documents").createOrReplaceTempView("documents_q105")
      s.sql("""select doc_id,
               |  quality_score(text) as quality,
               |  token_count(text) as n_tokens,
               |  doc_fingerprint(text) as fp
               |from documents_q105
               |order by doc_id""".stripMargin)
    },
      // SQL-surface twin: the q19 quality formula + token count +
      // md5(norm) fingerprint — same signals, derived independently
      s"""with m as (
        |  select doc_id, $OracleNorm as norm,
        |    $OracleNTokens as n_tokens,
        |    len(list_filter($OracleTokens, t -> t in ($OracleStop))) as n_stop,
        |    cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |      / cast(greatest(length(text),1) as double) as punct_ratio,
        |    cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |      / cast(greatest(length(text),1) as double) as digit_ratio
        |  from documents)
        |select doc_id,
        |  0.4 * least(cast(n_tokens as double) / 50.0, 1.0)
        |  + 0.3 * least(cast(n_stop as double) / cast(greatest(n_tokens,1) as double) * 4.0, 1.0)
        |  + 0.15 * (1.0 - least(punct_ratio * 5.0, 1.0))
        |  + 0.15 * (1.0 - least(digit_ratio * 5.0, 1.0)) as quality,
        |  cast(n_tokens as int) as n_tokens,
        |  md5(norm) as fp
        |from m
        |order by doc_id""".stripMargin),

    // Gopher / MassiveText rule set under the gate (r11): every
    // measured signal (word count, mean word length, alpha-word /
    // symbol / bullet / ellipsis ratios, stopword hits) plus the
    // conjunctive keep — each ratio a single int/int IEEE division
    // with its expression tree mirrored in the twin, so the full
    // rule table hash-gates. The letter test is lower(t)≠upper(t)
    // (the no-regex-in-lambda discipline — regex per token was the
    // q23-era 90× trap).
    QueryDef("q109_gopher_rules", { (s, dir) =>
      Corpus.gopherSignals(Tables(s, dir, "documents"), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_words"), col("mean_word_len"),
          col("alpha_word_ratio"), col("symbol_ratio"), col("bullet_ratio"),
          col("ellipsis_ratio"), col("stop_hits"), col("keep"))
        .orderBy(col("doc_id"))
    },
      // Gopher rule-set twin: every signal re-derived — same
      // tokenization, letter test, literal replaces, line splits and
      // int/int divisions
      s"""with t as (select doc_id, text,
        |    $OracleTokens as w,
        |    string_split(text, chr(10)) as ln
        |  from documents),
        |c as (select doc_id,
        |    len(w) as n_words,
        |    list_sum(list_transform(w, x -> length(x))) as wchars,
        |    len(list_filter(w, x -> lower(x) != upper(x))) as alpha,
        |    len(list_filter(w, x -> lower(x) in
        |      ('the','be','to','of','and','that','have','with'))) as stop_hits,
        |    length(text) - length(replace(text, '#', '')) as nhash,
        |    (length(text) - length(replace(text, '...', ''))) // 3 as ellsym,
        |    len(ln) as nlines,
        |    len(list_filter(ln, l -> substr(ltrim(l), 1, 1) in ('-','*','•'))) as bull,
        |    len(list_filter(ln, l -> length(rtrim(l)) >= 3
        |      and substr(rtrim(l), length(rtrim(l)) - 2, 3) = '...')) as elll
        |  from t),
        |r as (select doc_id,
        |    cast(n_words as bigint) as n_words,
        |    case when n_words > 0
        |      then cast(wchars as double) / cast(n_words as double) end as mean_word_len,
        |    case when n_words > 0
        |      then cast(alpha as double) / cast(n_words as double) end as alpha_word_ratio,
        |    case when n_words > 0
        |      then cast(nhash + ellsym as double) / cast(n_words as double) end as symbol_ratio,
        |    cast(bull as double) / cast(nlines as double) as bullet_ratio,
        |    cast(elll as double) / cast(nlines as double) as ellipsis_ratio,
        |    cast(stop_hits as bigint) as stop_hits
        |  from c)
        |select doc_id, n_words, mean_word_len, alpha_word_ratio, symbol_ratio,
        |  bullet_ratio, ellipsis_ratio, stop_hits,
        |  coalesce(n_words >= 50 and n_words <= 100000
        |    and mean_word_len >= 3.0 and mean_word_len <= 10.0
        |    and symbol_ratio <= 0.1 and bullet_ratio <= 0.9
        |    and ellipsis_ratio <= 0.3 and alpha_word_ratio >= 0.8
        |    and stop_hits >= 2, false) as keep
        |from r
        |order by doc_id""".stripMargin),

    // Sampled-threshold CCNet bucketing under the gate (r12): the
    // q110 score chain through the 100 TB bucketing path — cut
    // points from an md5-family hash-sample (portable; production
    // keeps xxh64), buckets by comparison, no window anywhere. The
    // twin re-derives the sample, the sorted-sample cut indexes
    // (exact ntile tile-boundary math) and every comparison, so a
    // sampling, cut-index or boundary-orientation bug breaks the
    // hash.
    QueryDef("q117_ccnet_buckets_approx", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Corpus.bigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      val scored = Corpus.knScore(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", model)
        .select(col("id"), col("min_p"))
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      Corpus.scoreBucketsApprox(scored, "id", "lang", "min_p", k = 3,
          sampleFraction = 0.5,
          sampleHash = c => Md5Family.md5Hash60(c.cast(StringType)) % 1000000L)
        .select(col("id").as("doc_id"), col("lang"), col("min_p"),
          col("bucket").cast(LongType).as("bucket"), col("tier"))
        .orderBy(col("doc_id"))
    },
      // sampled-threshold CCNet twin: q110's score chain, then the md5
      // hash-sample, the sorted-sample cut points at the exact ntile
      // tile-boundary indexes (i·⌊n/k⌋ + min(i, n mod k)), and the
      // descending comparison buckets — cut values are selected data
      // points (no interpolation arithmetic), so the doubles compare
      // bit-identically in both engines
      s"""$OracleKnCtes,
        |s as (select doc_id, min(p) as min_p from p1 group by doc_id),
        |g as (select s.doc_id, d.lang, s.min_p
        |  from s join documents d on s.doc_id = d.doc_id),
        |samp as (select lang, min_p from g
        |  where ('0x' || substr(md5(cast(doc_id as varchar)), 1, 15))::bigint
        |      % 1000000 < 500000
        |    and min_p is not null),
        |sorted as (select lang, list_sort(list(min_p), 'DESC') as ss,
        |    count(*) as n from samp group by lang),
        |cuts as (select lang,
        |    ss[cast(1 * (n // 3) + least(1, n % 3) as int)] as c1,
        |    ss[cast(2 * (n // 3) + least(2, n % 3) as int)] as c2
        |  from sorted),
        |bk as (select g.doc_id, g.lang, g.min_p,
        |    case when c.lang is null then null
        |         when g.min_p >= c.c1 then 1
        |         when g.min_p >= c.c2 then 2 else 3 end as bucket
        |  from g left join cuts c on g.lang = c.lang)
        |select doc_id, lang, min_p, cast(bucket as bigint) as bucket,
        |  case when bucket is null then null when bucket = 1 then 'head'
        |       when bucket = 2 then 'middle' else 'tail' end as tier
        |from bk
        |order by doc_id""".stripMargin),

    // DSIR importance weighting under the gate (r11): hashed
    // unigram+bigram features (md5-prefix buckets — the q100
    // derivation) of raw docs against target/raw bucket histograms.
    // The integer columns gate the WHOLE feature/hash/histogram/join
    // pipeline (order-independent exact dot products); log_weight
    // involves ln (ungateable, q58 lesson) and is spec'd against
    // driver math.
    QueryDef("q113_dsir_weights", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Corpus.dsirWeights(docs.filter(col("doc_id") % 2 === 1),
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", dim = 8192)
        .select(col("id").as("doc_id"), col("n_feats"),
          col("dot_target"), col("dot_raw"))
        .orderBy(col("doc_id"))
    },
      // DSIR twin: same n-grams (normalized unigrams + space-joined
      // bigrams), same md5-prefix buckets, same histograms and integer
      // dot products
      s"""with n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |uni as (select doc_id, term from
        |  (select doc_id, unnest(w) as term from t) where length(term) > 0),
        |big as (select doc_id, w[i] || ' ' || w[i + 1] as term
        |  from (select doc_id, w, unnest(range(1, len(w))) as i from t)),
        |terms as (select * from uni union all select * from big),
        |f as (select doc_id,
        |    ('0x' || substr(md5(term), 1, 8))::bigint % 8192 as bucket,
        |    count(*) as c
        |  from terms group by 1, 2),
        |tt as (select bucket, sum(c) as ct from f where doc_id % 2 = 0 group by 1),
        |rr as (select bucket, sum(c) as cr from f where doc_id % 2 = 1 group by 1),
        |d as (select f.doc_id,
        |    sum(f.c) as n_feats,
        |    sum(f.c * coalesce(tt.ct, 0)) as dot_target,
        |    sum(f.c * coalesce(rr.cr, 0)) as dot_raw
        |  from f
        |  left join tt on f.bucket = tt.bucket
        |  left join rr on f.bucket = rr.bucket
        |  where f.doc_id % 2 = 1
        |  group by 1)
        |select doc_id, cast(n_feats as bigint) as n_feats,
        |  cast(dot_target as bigint) as dot_target,
        |  cast(dot_raw as bigint) as dot_raw
        |from d
        |order by doc_id""".stripMargin),

    // CCNet head/middle/tail bucketing under the gate (r11): the q98
    // Kneser–Ney scorer feeds per-language ntile(3) tiles — min_p is
    // the hash-gated portable score (ln-based ppl is not, the q58
    // lesson), ties break on doc_id, and ntile's integer semantics
    // replay exactly in SQL. A window-frame, ordering or tie-break
    // bug reshuffles tiers and breaks the hash.
    QueryDef("q110_ccnet_buckets", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Corpus.bigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      val scored = Corpus.knScore(docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", model)
        .select(col("id"), col("min_p"))
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      Corpus.scoreBuckets(scored, "id", "lang", "min_p", k = 3)
        .select(col("id").as("doc_id"), col("lang"), col("min_p"),
          col("bucket").cast(LongType).as("bucket"), col("tier"))
        .orderBy(col("doc_id"))
    },
      // CCNet bucketing twin: q98's shared KN CTE chain down to min_p,
      // then the identical per-language ntile(3) over (min_p desc,
      // doc_id)
      s"""$OracleKnCtes,
        |s as (select doc_id, min(p) as min_p from p1 group by doc_id),
        |g as (select s.doc_id, d.lang, s.min_p,
        |    ntile(3) over (partition by d.lang order by s.min_p desc, s.doc_id asc) as bucket
        |  from s join documents d on s.doc_id = d.doc_id)
        |select doc_id, lang, min_p, cast(bucket as bigint) as bucket,
        |  case when bucket = 1 then 'head' when bucket = 2 then 'middle'
        |    else 'tail' end as tier
        |from g
        |order by doc_id""".stripMargin),

    // Tokenize-and-ship under the gate (r10): the END of the
    // pipeline — documents Viterbi-tokenized to ids (the q99
    // uniform-vocab device), binarized int32-LE (Int32Le: 4 bytes
    // per id, so SIZE is oracle-checkable), exported as tar shards
    // and read back through the DSv2 source. The twin re-derives
    // every member's byte size as 4 × the fewest-pieces DP count and
    // the shard from the md5 rule — one hash over the whole
    // tokenizer→binarizer→sink→source chain.
    QueryDef("q104_token_binary_export", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q104").getAbsolutePath
      val vocab = UnigramGatePieces.map(_ -> -1.0)
      val ids = Unigram.encodeDocsIds(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")),
        "text", vocab, charFloor = -1.0)
      TarShards.write(
        ids.select(col("doc_id").cast(StringType).as("k"),
          graft.functions.Int32Le.int32le(col("token_ids")).as("p")),
        "k", "p", "bin", base, nShards = 8)
      s.read.format("graft.sources.TarSource").option("path", base).load()
        .select(col("key").cast(LongType).as("doc_id"), col("shard"), col("size"))
        .orderBy(col("doc_id"))
    },
      // token-binary twin: q99's fewest-pieces DP × 4 bytes per id,
      // plus the md5 shard rule — the full chain in one SQL
      s"""with recursive steps(p) as (values
        |  ${(UnigramGatePieces ++ (('a' to 'z') ++ ('0' to '9')).map(_.toString))
              .map(p => s"('$p')").mkString(", ")}),
        |n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |occ as (select doc_id, wi as word
        |  from (select doc_id, unnest(w) as wi from t) where length(wi) > 0),
        |wordcnt as (select doc_id, word, count(*) as c from occ group by 1, 2),
        |words as (select distinct word from occ),
        |dp as (
        |  select word, 0 as pos, 0 as k from words
        |  union
        |  select dp.word, dp.pos + length(s.p) as pos, dp.k + 1 as k
        |  from dp join steps s on substr(dp.word, dp.pos + 1, length(s.p)) = s.p
        |  where dp.pos + length(s.p) <= length(dp.word)
        |),
        |best as (select word, min(k) as mk from dp where pos = length(word) group by word),
        |sums as (select wc.doc_id, sum(wc.c * b.mk) as s
        |  from wordcnt wc join best b on wc.word = b.word group by wc.doc_id)
        |select d.doc_id,
        |  cast(('0x' || substr(md5(cast(d.doc_id as varchar)), 1, 8))::bigint % 8 as int) as shard,
        |  cast(4 * coalesce(sums.s, 0) as bigint) as size
        |from documents d left join sums on d.doc_id = sums.doc_id
        |order by d.doc_id""".stripMargin),

    // Tar SOURCE read-back under the gate (r10): shards written by
    // TarShards re-read through the DataSource V2 tar source
    // (partition-per-shard, header-walk members) and projected
    // payload-free — the pruning fast path — then compared against
    // documents re-derived in SQL. A header parse, member skip, or
    // key/ext split bug changes rows and breaks the hash.
    QueryDef("q103_tar_source_readback", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q103").getAbsolutePath
      TarShards.write(
        Tables(s, dir, "documents")
          .select(col("doc_id").cast(StringType).as("k"),
            col("text").cast(BinaryType).as("p")),
        "k", "p", "txt", base, nShards = 8)
      s.read.format("graft.sources.TarSource").option("path", base).load()
        .select(col("key").cast(LongType).as("doc_id"), col("shard"),
          col("size"), col("ext"))
        .orderBy(col("doc_id"))
    },
      // tar read-back twin: every member re-derived from documents —
      // the same md5-prefix shard rule, utf8 byte length, fixed ext
      """select doc_id,
        |  cast(('0x' || substr(md5(cast(doc_id as varchar)), 1, 8))::bigint % 8 as int) as shard,
        |  cast(octet_length(encode(text)) as bigint) as size,
        |  'txt' as ext
        |from documents
        |order by doc_id""".stripMargin),

    // Quality-classifier serving under the gate (r10): the quantized
    // integer dot product over md5-hash-bucketed token features with
    // a FIXED literal weight list (training is spec-gated — GD over
    // floats has no SQL twin; serving is exact integer arithmetic,
    // so the hash gates the FULL score path INCLUDING hashing parity:
    // a bucket-derivation or collision-handling bug shifts logits).
    QueryDef("q100_quality_score", { (s, dir) =>
      import s.implicits._
      val wdf = QualityGateWeights.toDF("word", "qw")
        .select(QualityClassifier.bucket(col("word"), QualityGateDim).as("bucket"),
          col("qw"))
        .groupBy(col("bucket")).agg(sum(col("qw")).as("qw")) // collisions sum
      QualityClassifier.scoreQuantized(Tables(s, dir, "documents"),
          "doc_id", "text", wdf, qBias = 100L, dim = QualityGateDim)
        .select(col("id").as("doc_id"), col("n_tokens"),
          col("n_feat_tokens"), col("logit_q"))
        .orderBy(col("doc_id"))
    },
      // quality-score twin: the same literal weights bucketed by the
      // same md5-prefix formula; integer dot product is exact
      s"""with wt(word, qw) as (values
        |  ${QualityGateWeights.map { case (w, q) => s"('$w', $q)" }.mkString(", ")}),
        |wb as (select ('0x' || substr(md5(word), 1, 8))::bigint % $QualityGateDim as bucket,
        |    sum(qw) as qw from wt group by 1),
        |n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |occ as (select doc_id, wi from (select doc_id, unnest(w) as wi from t)
        |  where length(wi) > 0),
        |f as (select doc_id,
        |    ('0x' || substr(md5(wi), 1, 8))::bigint % $QualityGateDim as bucket,
        |    count(*) as cnt from occ group by 1, 2)
        |select f.doc_id,
        |  cast(sum(cnt) as bigint) as n_tokens,
        |  cast(sum(case when wb.qw is not null then cnt else 0 end) as bigint) as n_feat_tokens,
        |  cast(sum(coalesce(wb.qw, 0) * cnt) + 100 as bigint) as logit_q
        |from f left join wb using (bucket)
        |group by f.doc_id
        |order by f.doc_id""".stripMargin),

    // Unigram-LM tokenization under the gate (r10): Viterbi over a
    // FIXED uniform-logp vocabulary degenerates to fewest-pieces
    // segmentation — a dictionary DP DuckDB replays with a recursive
    // CTE (piece COUNT is unique even where the argmax segmentation
    // ties, so the count hash-gates the lattice; trained-probability
    // Viterbi and EM are spec-gated — no SQL can express them). The
    // char universe is closed ([a-z0-9] after normalization), so the
    // twin's step list enumerates it alongside the subword pieces.
    QueryDef("q99_unigram_tokenize", { (s, dir) =>
      val vocab = UnigramGatePieces.map(_ -> -1.0)
      Unigram.encodeDocs(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          "text", vocab, charFloor = -1.0)
        .select(col("doc_id"), size(col("unigram_pieces")).as("n_pieces"))
        .orderBy(col("doc_id"))
    },
      // unigram twin: fewest-pieces dictionary DP as a recursive CTE —
      // steps = the gate pieces ∪ every [a-z0-9] char (the closed
      // post-normalization universe, = the engine's char fallback);
      // UNION dedups (word,pos,k) so the state space stays polynomial
      s"""with recursive steps(p) as (values
        |  ${(UnigramGatePieces ++ (('a' to 'z') ++ ('0' to '9')).map(_.toString))
              .map(p => s"('$p')").mkString(", ")}),
        |n as (select doc_id, $OracleNorm as norm from documents),
        |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
        |occ as (select doc_id, wi as word
        |  from (select doc_id, unnest(w) as wi from t) where length(wi) > 0),
        |wordcnt as (select doc_id, word, count(*) as c from occ group by 1, 2),
        |words as (select distinct word from occ),
        |dp as (
        |  select word, 0 as pos, 0 as k from words
        |  union
        |  select dp.word, dp.pos + length(s.p) as pos, dp.k + 1 as k
        |  from dp join steps s on substr(dp.word, dp.pos + 1, length(s.p)) = s.p
        |  where dp.pos + length(s.p) <= length(dp.word)
        |),
        |best as (select word, min(k) as mk from dp where pos = length(word) group by word),
        |sums as (select wc.doc_id, sum(wc.c * b.mk) as s
        |  from wordcnt wc join best b on wc.word = b.word group by wc.doc_id)
        |select d.doc_id, cast(coalesce(sums.s, 0) as int) as n_pieces
        |from documents d left join sums on d.doc_id = sums.doc_id
        |order by d.doc_id""".stripMargin),

    // Kneser–Ney bigram scoring under the gate (r10): train on even
    // docs, score odd (the q84 split) with interpolated KN — the
    // twin mirrors the probability expression tree VERBATIM
    // (max(c−D,0)/c1 + D·n1p/c1·pcont, pcont = n1pl/B with the
    // 1/(B+1) unk floor), so min_p/max_p hash-match as exact IEEE
    // doubles alongside the integer hit/context/count columns. A
    // discount, continuation-count or backoff bug moves min_p/max_p.
    QueryDef("q98_kn_score", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val model = Corpus.bigramModel(docs.filter(col("doc_id") % 2 === 0), "text")
      Corpus.knScore(docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", model)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_hit"),
          col("n_ctx_hit"), col("sum_c12"), col("min_p"), col("max_p"))
        .orderBy(col("doc_id"))
    },
      // KN twin: the q84 bigram CTEs plus the model-derived context/
      // continuation tables; the probability CASE mirrors knScore's
      // column expression operation-for-operation
      s"""$OracleKnCtes
        |select doc_id,
        |  cast(count(*) as bigint) as n_bigrams,
        |  cast(sum(case when cnt is not null then 1 else 0 end) as bigint) as n_hit,
        |  cast(sum(case when c1 is not null then 1 else 0 end) as bigint) as n_ctx_hit,
        |  cast(sum(coalesce(cnt, 0)) as bigint) as sum_c12,
        |  min(p) as min_p, max(p) as max_p
        |from p1 group by doc_id order by doc_id""".stripMargin),

    // CCNet-style corpus-wide line dedup under the gate: both engines
    // build the same multi-line docs from `part` (a universal
    // boilerplate header, a mostly-unique name line, brand/type lines
    // repeating across rows, one empty line) — first occurrence wins,
    // empties survive, rebuilt text + removal counts cross the hash.
    QueryDef("q83_line_dedup", { (s, dir) =>
      val raw = concat_ws("\n",
        lit("generated by crawler v1"), col("p_name"),
        concat(lit("brand: "), col("p_brand")), lit(""), col("p_type"))
      Corpus.dedupLines(
          Tables(s, dir, "part").select(col("p_partkey"), raw.as("text")),
          "p_partkey", "text")
        .select(col("p_partkey"), col("text_deduped"),
          col("n_lines").cast(LongType).as("n_lines"),
          col("n_removed").cast(LongType).as("n_removed"))
        .orderBy(col("p_partkey"))
    },
      """with t as (select p_partkey,
        |    'generated by crawler v1' || chr(10) || p_name || chr(10)
        |      || 'brand: ' || p_brand || chr(10) || '' || chr(10) || p_type as text
        |  from part),
        |l as (select p_partkey, pos, split[pos] as line from
        |  (select p_partkey, split, unnest(range(1, len(split)+1)) as pos
        |   from (select p_partkey, string_split(text, chr(10)) as split from t))),
        |w as (select md5(line) as k, min(p_partkey*1000000 + pos) as wk
        |  from l where length(line) > 0 group by 1),
        |kp as (select l.p_partkey, l.pos, l.line
        |  from l left join w on md5(l.line) = w.k
        |  where length(l.line) = 0 or l.p_partkey*1000000 + l.pos = w.wk),
        |r as (select p_partkey, string_agg(line, chr(10) order by pos) as text_deduped,
        |    count(*) as kept
        |  from kp group by 1)
        |select t.p_partkey, coalesce(r.text_deduped, '') as text_deduped,
        |  cast(len(string_split(t.text, chr(10))) as bigint) as n_lines,
        |  cast(len(string_split(t.text, chr(10))) - coalesce(r.kept, 0) as bigint) as n_removed
        |from t left join r using (p_partkey)
        |order by p_partkey""".stripMargin),

    // Same selection as q79 via the production threshold path — no
    // global window; tiny bins/exactTrimRows force the histogram
    // refinement to actually run (and recurse) at gate scale. The
    // oracle is q79's exact cumulative-window SQL: identical rows is
    // the equality proof.
    QueryDef("q81_budget_selection_threshold", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Corpus.selectByBudgetThreshold(
          docs.select(col("doc_id"),
            Text.qualityScore(col("text")).as("quality"),
            Text.tokenCount(col("text")).cast(LongType).as("n_tokens")),
          "quality", "n_tokens", "doc_id", budget = 5000L,
          bins = 16, exactTrimRows = 8L, maxDepth = 8)
        .orderBy(col("doc_id"))
    },
      s"""with q as (select doc_id,
        |    0.4 * least(cast($OracleNTokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(len(list_filter($OracleTokens, t -> t in ($OracleStop))) as double)
        |        / cast(greatest($OracleNTokens, 1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0)) as quality,
        |    cast($OracleNTokens as bigint) as n_tokens
        |  from documents),
        |c as (select doc_id, quality, n_tokens,
        |    coalesce(sum(n_tokens) over (order by quality desc, doc_id
        |      rows between unbounded preceding and 1 preceding), 0) as cum
        |  from q)
        |select doc_id, quality, n_tokens from c where cum < 5000
        |order by doc_id""".stripMargin)
  )

  /** q76's fixed merge list — chosen to fire on the fixture vocab
    * (table/row/the/scan families); mirrored literally in the twin. */
  private val Q76Merges: Seq[(String, String)] = Seq(
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"), ("table", "</w>"),
    ("r", "o"), ("ro", "w"), ("row", "</w>"),
    ("t", "h"), ("th", "e"), ("the", "</w>"),
    ("s", "c"), ("sc", "a"), ("sca", "n"), ("scan", "</w>"))

  /** q98's Kneser–Ney scoring pipeline through per-bigram
    * probabilities (`p1(doc_id, cnt, c1, p)`) — shared verbatim by
    * the q98 and q110 twins so both replay the identical IEEE
    * probability tree. */
  private val OracleKnCtes =
    s"""with n as (select doc_id, $OracleNorm as norm from documents),
      |t as (select doc_id, string_split(norm, ' ') as w from n where length(norm) > 0),
      |b as (select doc_id, w[i] as w1, w[i + 1] as w2
      |  from (select doc_id, w, unnest(range(1, len(w))) as i from t)),
      |m as (select w1, w2, count(*) as cnt from b where doc_id % 2 = 0 group by 1, 2),
      |ctx as (select w1, sum(cnt) as c1, count(*) as n1p from m group by 1),
      |cont as (select w2, count(*) as n1pl from m group by 1),
      |bt as (select count(*) as bb from m),
      |p0 as (select b.doc_id, m.cnt, ctx.c1, ctx.n1p,
      |    coalesce(cast(cont.n1pl as double) / cast(bt.bb as double),
      |             1.0 / cast(bt.bb + 1 as double)) as pcont
      |  from b
      |  left join m on b.w1 = m.w1 and b.w2 = m.w2
      |  left join ctx on b.w1 = ctx.w1
      |  left join cont on b.w2 = cont.w2
      |  cross join bt
      |  where b.doc_id % 2 = 1),
      |p1 as (select doc_id, cnt, c1,
      |    case when c1 is not null then
      |      greatest(cast(coalesce(cnt, 0) as double) - 0.75, 0.0)
      |        / cast(c1 as double)
      |      + (0.75 * cast(n1p as double) / cast(c1 as double)) * pcont
      |    else pcont end as p
      |  from p0)""".stripMargin

  /** q100's fixed serving weights: common words with hand-picked
    * integer weights at dim 4096 — small enough to read, large
    * enough that collision handling (bucket-sum) is exercised. */
  private val QualityGateDim = 4096

  /** q123's fixed serving model: four languages with hand-picked
    * char-gram weights at dim 4096 — small enough to read, collision
    * handling (within-language bucket-sum) exercised at this dim, and
    * grams overlap across languages (" de" is both German and
    * Spanish evidence) so the argmax does real work. Priors and
    * floors are distinct per language so both the prior and the
    * n_grams·floor terms move the scores. */
  private val LangGateDim = 4096
  private val LangGateLangs: Seq[(String, Long, Long)] = Seq(
    ("de", -20L, -4L), ("en", -10L, -3L), ("es", -40L, -6L), ("fr", -30L, -5L))
  private val LangGateWeights: Seq[(String, String, Long)] = Seq(
    ("en", "the", 25L), ("en", " th", 12L), ("en", "he ", 9L),
    ("en", "ing", 15L), ("en", "and", 11L), ("en", " of", 8L),
    ("en", "is ", 6L), ("en", "w", 2L),
    ("de", "der", 21L), ("de", "sch", 18L), ("de", "ich", 14L),
    ("de", "ein", 12L), ("de", "und", 16L), ("de", " de", 5L),
    ("de", "ck ", 7L), ("de", "z", 3L),
    ("fr", "les", 19L), ("fr", " le", 13L), ("fr", "ent", 10L),
    ("fr", "que", 9L), ("fr", "des", 11L), ("fr", "eau", 8L),
    ("fr", "oi", 6L), ("fr", "j", 2L),
    ("es", "los", 17L), ("es", " de", 9L), ("es", "de ", 8L),
    ("es", "ar ", 7L), ("es", "el ", 6L), ("es", "ado", 10L),
    ("es", "ll", 5L), ("es", "y ", 4L))

  /** q123's quantized-NB scoring chain down to the windowed `best`
    * CTE (per-doc per-lang score_q/n_grams/n_hit + argmax row number
    * + any-hit flag) — shared verbatim by the q123 serving twin and
    * the q128 composition twin so both replay the identical integer
    * algebra. */
  private def OracleLangIdCtes: String =
    s"""wt(lang, gram, qdw) as (values
      |  ${LangGateWeights.map { case (l, g, q) => s"('$l', '$g', $q)" }.mkString(", ")}),
      |lt(lang, q_prior, q_floor) as (values
      |  ${LangGateLangs.map { case (l, p, f) => s"('$l', $p, $f)" }.mkString(", ")}),
      |wb as (select lang,
      |    ('0x' || substr(md5(gram), 1, 8))::bigint % $LangGateDim as bucket,
      |    sum(qdw) as qdw from wt group by 1, 2),
      |n as (select doc_id,
      |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) as t
      |  from documents),
      |g as (select doc_id,
      |    unnest(list_transform(range(1, greatest(len(t) - kk + 1, 0) + 1),
      |      i -> substr(t, i, kk))) as g
      |  from n, (values (1), (2), (3)) ks(kk)),
      |f as (select doc_id,
      |    ('0x' || substr(md5(g), 1, 8))::bigint % $LangGateDim as bucket,
      |    count(*) as cnt from g group by 1, 2),
      |ng as (select doc_id, sum(cnt) as n_grams from f group by 1),
      |hits as (select f.doc_id, wb.lang,
      |    sum(wb.qdw * f.cnt) as hit_sum, sum(f.cnt) as n_hit
      |  from f join wb using (bucket) group by 1, 2),
      |sc as (select d.doc_id, lt.lang,
      |    lt.q_prior + coalesce(ng.n_grams, 0) * lt.q_floor
      |      + coalesce(h.hit_sum, 0) as score_q,
      |    coalesce(ng.n_grams, 0) as n_grams,
      |    coalesce(h.n_hit, 0) as n_hit
      |  from (select doc_id from documents) d
      |  cross join lt
      |  left join ng using (doc_id)
      |  left join hits h on h.doc_id = d.doc_id and h.lang = lt.lang),
      |best as (select doc_id, lang, score_q, n_grams, n_hit,
      |    row_number() over (partition by doc_id
      |      order by score_q desc, lang asc) as rn,
      |    max(n_hit) over (partition by doc_id) as any_hit
      |  from sc)""".stripMargin

  private val QualityGateWeights: Seq[(String, Long)] = Seq(
    ("the", 17L), ("and", 11L), ("of", 7L), ("a", 5L), ("in", 3L),
    ("data", 23L), ("model", -13L), ("to", -2L), ("is", 9L), ("for", -4L))

  /** q99's fixed subword list: common English subwords, uniform
    * logp — chosen so multi-char matches actually occur in the
    * documents corpus and the fewest-pieces DP has real work. */
  private val UnigramGatePieces: Seq[String] = Seq(
    "the", "ing", "tion", "and", "ent", "ion", "er", "re", "an",
    "en", "on", "ed", "al", "ar", "st", "le", "te", "at", "or", "is")
}
