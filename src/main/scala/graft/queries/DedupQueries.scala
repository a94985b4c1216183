package graft
package queries

import graft.functions.Text
import graft.operators.{Corpus, Dedup, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import OracleFragments._

/** Dedup and similarity queries: exact and near-duplicate detection
  * (MinHash, SimHash, embedding LSH, spans, Bloom), clustering, and the
  * vector top-k/index paths. */
object DedupQueries {

  def all: Seq[QueryDef] = Seq(

    // exact dedup via content hashing (hash-groupBy)
    QueryDef("q15_dedup_exact_stats", { (s, dir) =>
      Tables(s, dir, "documents")
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text"))).as("n_unique_texts"),
          countDistinct(Text.fingerprint(col("text"))).as("n_unique_normalized"))
        .orderBy(col("source"))
    },
      s"""select source, count(*) as n_docs,
        |  count(distinct md5(text)) as n_unique_texts,
        |  count(distinct md5($OracleNorm)) as n_unique_normalized
        |from documents
        |group by source
        |order by source""".stripMargin),

    // exact n-gram Jaccard similarity over a bounded pair set
    QueryDef("q20_ngram_jaccard", { (s, dir) =>
      Dedup.jaccardPairs(
          Tables(s, dir, "documents").filter(col("doc_id") < 40),
          "doc_id", "text", k = 2)
        .filter(col("jaccard") > 0.02)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w from documents where doc_id < 40),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d)
        |select a.doc_id as id_a, b.doc_id as id_b,
        |  cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) as jaccard
        |from sh a join sh b on a.doc_id < b.doc_id
        |where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) > 0.02
        |order by id_a, id_b""".stripMargin),

    // brute-force exact top-k by dot product against a stored query vec
    QueryDef("q21_embedding_dot_topk", { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.dot(col("embedding"), col("qvec")).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(20)
    },
      """select vec_id,
        |  list_sum(list_transform(
        |    list_zip(embedding, (select embedding from embeddings where vec_id = 0)),
        |    p -> cast(p[1] as double) * cast(p[2] as double))) as score
        |from embeddings
        |order by score desc, vec_id
        |limit 20""".stripMargin),

    // cosine threshold set (exact, deterministic double pipeline)
    QueryDef("q22_embedding_cosine", { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      e.crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.cosine(col("embedding"), col("qvec")).as("score"))
        .filter(col("score") >= 0.15)
        .orderBy(col("vec_id"))
    },
      """with q as (select embedding as qv from embeddings where vec_id = 0),
        |s as (select vec_id,
        |  list_sum(list_transform(list_zip(embedding, (select qv from q)),
        |    p -> cast(p[1] as double) * cast(p[2] as double)))
        |  / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
        |      p -> cast(p[1] as double) * cast(p[2] as double))))
        |    * sqrt((select list_sum(list_transform(list_zip(qv, qv),
        |      p -> cast(p[1] as double) * cast(p[2] as double))) from q))) as score
        |from embeddings)
        |select vec_id, score from s
        |where score >= 0.15
        |order by vec_id""".stripMargin),

    // MinHash+LSH near-dup candidates — HASH-GATED since r11 via the
    // md5 signature family (Md5Family: slot i = min (a_i·x + b_i) mod
    // P over x = md5_60(shingle) mod P; the DuckDB twin re-derives
    // every slot, band bucket and estimate from md5 alone). The
    // xxh64 production family stays the operator default; this gate
    // drives the identical banding/pairing/estimate machinery.
    // bands of 4 rows: band-collision probability ≈ jaccard^4, so the
    // shared-vocabulary corpus doesn't flood the pair join (2-row bands
    // at est≥0.05 generated ~10^6 candidate pairs at sf0.1)
    QueryDef("q23_minhash_near_dup", { (s, dir) =>
      Dedup.minhashCandidates(
          Tables(s, dir, "documents"), "doc_id", "text",
          numHashes = 32, bands = 8, shingleK = 2, minEstimate = 0.15,
          maxBucket = 500, family = "md5")
        .orderBy(col("id_a"), col("id_b"))
    },
      // md5-family MinHash twin: the oracle re-derives shingle hashes,
      // permutation coefficients, signatures, band buckets, the
      // bucket-size guard and the agreement estimate — all from md5.
      // Spark's band join keys on xxhash64(concat) of the slots; the
      // twin joins on the slot-concat string directly — identical
      // buckets (a 64-bit band-key collision would be the only
      // divergence, vanishingly unlikely at any corpus size).
      s"""with tok as (
        |  select doc_id,
        |    case when length(norm) = 0 then [] else string_split(norm, ' ') end as toks
        |  from (select doc_id, $OracleNorm as norm from documents)),
        |sh as (
        |  select doc_id,
        |    list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1]) as sh
        |  from tok where len(toks) >= 2),
        |xs as (
        |  select doc_id,
        |    list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::bigint % 2147483647) as xs
        |  from sh),
        |par as (
        |  select i,
        |    ('0x' || substr(md5('graft:minhash:v1:a:' || i), 1, 15))::bigint % 2147483646 + 1 as a,
        |    ('0x' || substr(md5('graft:minhash:v1:b:' || i), 1, 15))::bigint % 2147483647 as b
        |  from range(0, 32) t(i)),
        |slot as (
        |  select x.doc_id, par.i, min((par.a * u.v + par.b) % 2147483647) as m
        |  from xs x, unnest(x.xs) as u(v), par
        |  group by x.doc_id, par.i),
        |sig as (select doc_id, list(m order by i) as sig from slot group by doc_id),
        |band as (
        |  select doc_id, b.band,
        |    array_to_string(sig[b.band * 4 + 1 : b.band * 4 + 4], '_') as key
        |  from sig, range(0, 8) b(band)),
        |keep as (
        |  select band, key from band
        |  group by band, key having count(*) between 2 and 500),
        |pr as (
        |  select distinct a.doc_id as id_a, b.doc_id as id_b
        |  from band a
        |  join keep k on a.band = k.band and a.key = k.key
        |  join band b on b.band = a.band and b.key = a.key
        |  where a.doc_id < b.doc_id)
        |select pr.id_a, pr.id_b,
        |  cast(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2])) as double)
        |    / 32.0 as est_jaccard
        |from pr
        |join sig sa on sa.doc_id = pr.id_a
        |join sig sb on sb.doc_id = pr.id_b
        |where cast(len(list_filter(list_zip(sa.sig, sb.sig), z -> z[1] = z[2])) as double)
        |    / 32.0 >= 0.15
        |order by id_a, id_b""".stripMargin),

    // SimHash near-dup pairs — HASH-GATED since r11 via the 60-bit
    // md5 family (token hash = md5_60, ±1 votes are order-independent
    // integer sums, so the DuckDB twin rebuilds every signature).
    // bands=10 → 6-bit chunks → full recall for distance ≤ 9, so the
    // distance-≤-7 contract is preserved at the portable width.
    QueryDef("q24_simhash_pairs", { (s, dir) =>
      Dedup.simhashCandidates(
          Tables(s, dir, "documents"), "doc_id", "text",
          maxDistance = 7, bands = 10, family = "md5")
        .orderBy(col("id_a"), col("id_b"))
    },
      // 60-bit md5-family SimHash twin: vote sums are order-independent
      // integer adds, so the oracle rebuilds the exact signatures, then
      // mirrors the banding (6-bit chunks), the bucket-size guard, the
      // distinct pair join and the hamming filter.
      s"""with tok as (
        |  select doc_id,
        |    case when length(norm) = 0 then [] else string_split(norm, ' ') end as toks
        |  from (select doc_id, $OracleNorm as norm from documents)),
        |h as (
        |  select doc_id, ('0x' || substr(md5(u.t), 1, 15))::bigint as h
        |  from tok, unnest(toks) as u(t)),
        |v as (select doc_id, $OracleSimhashVotes from h group by doc_id),
        |sig as (select doc_id, $OracleSimhashPack as sh from v),
        |band as (
        |  select doc_id, sh, b.band, (sh >> (b.band * 6)) & 63 as chunk
        |  from sig, range(0, 10) b(band)),
        |keep as (
        |  select band, chunk from band
        |  group by band, chunk having count(*) between 2 and 1000),
        |pr as (
        |  select distinct a.doc_id as id_a, a.sh as sh_a, b.doc_id as id_b, b.sh as sh_b
        |  from band a
        |  join keep k on a.band = k.band and a.chunk = k.chunk
        |  join band b on b.band = a.band and b.chunk = a.chunk
        |  where a.doc_id < b.doc_id)
        |select id_a, id_b, cast(bit_count(xor(sh_a, sh_b)) as int) as distance
        |from pr
        |where bit_count(xor(sh_a, sh_b)) <= 7
        |order by id_a, id_b""".stripMargin),

    // LSH-bucketed approximate top-k — HASH-GATED since r11 via the
    // md5 hyperplane family (components exact in float32 AND float64,
    // so both engines compute identical dot signs; the DuckDB twin
    // re-derives all 24×11 planes, both signatures, the ≤2-bit
    // multi-probe predicate and the exact-cosine ranking from md5).
    // Same fused LshProbe kernel and knobs as the prng production
    // family; md5-family recall at these knobs is spec-asserted.
    QueryDef("q25_lsh_topk", { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val query = e.filter(col("vec_id") === 1).select("embedding")
        .collect()(0).getSeq[Float](0).toArray
      // knobs = the recall-spec'd setting: 24 small tables hold mean
      // recall ≥0.9 (measured 0.95) at 0.56 scan fraction, vs 0.4–0.7
      // for one big table (DedupSimilaritySpec's sweep table)
      Similarity.lshTopK(e, "vec_id", "embedding", query, k = 10,
        bits = 11, probeRadius = 2, numTables = 24, family = "md5")
    },
      // md5-hyperplane LSH twin: re-derive all 24 tables × 11 planes
      // (components (md5_60 mod 2001 − 1000)/1024 — exact in float32
      // and float64), signature each vector and the query, keep vectors
      // within 2 bits of the query in ANY table, rank candidates by the
      // q22-shape exact cosine. list_sum is the left-to-right double
      // fold both engines share (the q21/q22 precedent).
      """with q as (select embedding as qv from embeddings where vec_id = 1),
        |pl as (
        |  select t.t, i.i,
        |    list_transform(generate_series(0, 63), d ->
        |      ((('0x' || substr(md5('graft:lsh:v1:' || t.t || ':' || i.i || ':' || d), 1, 15))::bigint
        |        % 2001) - 1000) / 1024.0) as pl
        |  from range(0, 24) t(t), range(0, 11) i(i)),
        |qs as (
        |  select t, sum(case when d > 0 then 1::bigint << i else 0::bigint end) as qsig
        |  from (select pl.t, pl.i,
        |      list_sum(list_transform(list_zip(pl.pl, (select qv from q)),
        |        p -> p[1] * cast(p[2] as double))) as d
        |    from pl)
        |  group by t),
        |vs as (
        |  select e.vec_id, pl.t,
        |    sum(case when list_sum(list_transform(list_zip(pl.pl, e.embedding),
        |        p -> p[1] * cast(p[2] as double))) > 0
        |      then 1::bigint << pl.i else 0::bigint end) as sig
        |  from embeddings e, pl
        |  group by e.vec_id, pl.t),
        |cand as (
        |  select distinct vs.vec_id
        |  from vs join qs on qs.t = vs.t
        |  where bit_count(xor(vs.sig, qs.qsig)) <= 2)
        |select e.vec_id,
        |  list_sum(list_transform(list_zip(e.embedding, (select qv from q)),
        |    p -> cast(p[1] as double) * cast(p[2] as double)))
        |  / (sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding),
        |      p -> cast(p[1] as double) * cast(p[2] as double))))
        |    * sqrt((select list_sum(list_transform(list_zip(qv, qv),
        |      p -> cast(p[1] as double) * cast(p[2] as double))) from q))) as score
        |from embeddings e join cand on cand.vec_id = e.vec_id
        |order by score desc, e.vec_id
        |limit 10""".stripMargin),

    // Corpus-scale near-dup path under the gate: LSH candidates →
    // exact jaccard on candidates only (no all-pairs join in the
    // plan). The DuckDB twin IS all-pairs — tractable at oracle scale
    // — so the gate also proves the banding (32 hashes × 16 bands)
    // loses no pair at jaccard ≥ 0.6 on this corpus: 1−(1−j²)^16
    // ≈ 0.9999 per pair, and xxhash64 is deterministic, so the
    // comparison is stable, not probabilistic.
    QueryDef("q33_near_dup_bucketed", { (s, dir) =>
      Dedup.nearDuplicates(Tables(s, dir, "documents"), "doc_id", "text",
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d)
        |select a.doc_id as id_a, b.doc_id as id_b,
        |  cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) as jaccard
        |from sh a join sh b on a.doc_id < b.doc_id
        |where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6
        |order by id_a, id_b""".stripMargin,
      tags = Set(Tag.QuadraticOracle)),

    // Duplicate CLUSTERS under the gate: q33's near-dup pairs →
    // connected components (min-label propagation + pointer jumping),
    // every doc labelled with its cluster's minimum id, singletons
    // keeping their own id. The DuckDB twin computes the same
    // transitive closure with a recursive CTE — closure semantics,
    // not just pair semantics, are what a curation pipeline consumes
    // ("keep one doc per cluster" = filter(id = cluster)).
    QueryDef("q57_dup_clusters", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.duplicateClusters(pairs)
      docs.select(col("doc_id").as("id"))
        .join(clusters, Seq("id"), "left")
        .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .orderBy(col("id"))
    },
      s"""with recursive d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d),
        |p as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sh a join sh b on a.doc_id < b.doc_id
        |  where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6),
        |e as (select id_a as src, id_b as dst from p
        |      union select id_b, id_a from p),
        |reach(src, dst) as (
        |  select src, dst from e
        |  union
        |  select r.src, e2.dst from reach r join e e2 on r.dst = e2.src),
        |lab as (select src as doc_id, min(dst) as mn from reach group by src),
        |assigned as (select doc.doc_id as id,
        |    least(doc.doc_id, coalesce(l.mn, doc.doc_id)) as cluster
        |  from documents doc left join lab l on doc.doc_id = l.doc_id)
        |select id, cluster, count(*) over (partition by cluster) as n_members
        |from assigned
        |order by id""".stripMargin,
      tags = Set(Tag.QuadraticOracle)),

    // Leakage-safe splitting under the gate (r8): the q57 clustering
    // pipeline (LSH candidates → exact verify → connected components)
    // feeds Corpus.assignSplits, so every near-duplicate cluster is
    // split-atomic — the Lee-2022 test-set-contamination failure made
    // structurally impossible. The twin recomputes the closure
    // (recursive CTE) AND the exact multiplicative-mix bucket
    // arithmetic; a hash, threshold or cluster-label bug flips split
    // labels and breaks the hash.
    QueryDef("q89_leakage_safe_split", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .select(col("id_a"), col("id_b"))
      val clusters = Dedup.duplicateClusters(pairs)
      Corpus.assignSplits(
          docs.select(col("doc_id").as("id"))
            .join(clusters, Seq("id"), "left")
            .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster")),
          "cluster",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .orderBy(col("id"))
    },
      // q57's closure CTE + the exact split arithmetic: the pre-fold
      // keeps the product in bigint range, so both engines compute the
      // identical bucket and the labels hash-match
      (s"""with recursive d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d),
        |p as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sh a join sh b on a.doc_id < b.doc_id
        |  where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6),
        |e as (select id_a as src, id_b as dst from p
        |      union select id_b, id_a from p),
        |reach(src, dst) as (
        |  select src, dst from e
        |  union
        |  select r.src, e2.dst from reach r join e e2 on r.dst = e2.src),
        |lab as (select src as doc_id, min(dst) as mn from reach group by src),
        |assigned as (select doc.doc_id as id,
        |    least(doc.doc_id, coalesce(l.mn, doc.doc_id)) as cluster
        |  from documents doc left join lab l on doc.doc_id = l.doc_id),
        |bk as (select id, cluster,
        |    ((cluster % 1000000007) * 2654435761) % 1000000 as bucket
        |  from assigned)
        |select id, cluster,
        |  case when bucket < 800000 then 'train'
        |       when bucket < 900000 then 'val'
        |       else 'test' end as split
        |from bk
        |order by id""".stripMargin),
      tags = Set(Tag.QuadraticOracle)),

    // Int8-quantized similarity under the gate: symmetric per-vector
    // quantization (scale = max|x|/127), integer code dot × scales.
    // Integer-valued double accumulation is order-independent-EXACT,
    // so the quantized top-k hash-matches the DuckDB twin — the
    // memory-quartering ANN variant gated as hard as the exact one.
    QueryDef("q60_int8_quantized_topk", { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val staged = e.select(col("vec_id"), col("embedding"))
        .withColumn("scale", Similarity.int8Scale(col("embedding")))
        .withColumn("codes", Similarity.int8Codes(col("embedding"), col("scale")))
      val q = staged.filter(col("vec_id") === 0)
        .select(col("codes").as("qcodes"), col("scale").as("qscale"))
      staged.crossJoin(broadcast(q))
        .select(col("vec_id"),
          Similarity.int8Dot(col("codes"), col("scale"),
            col("qcodes"), col("qscale")).as("score"))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(20)
    },
      """with s as (select vec_id,
        |    greatest(list_max(list_transform(embedding, x -> abs(x))), 1e-30) / 127.0 as scale,
        |    embedding from embeddings),
        |c as (select vec_id, scale,
        |    list_transform(embedding, x -> cast(round(cast(x as double) / scale) as int)) as codes
        |  from s),
        |q as (select codes as qcodes, scale as qscale from c where vec_id = 0)
        |select c.vec_id,
        |  list_sum(list_transform(list_zip(c.codes, q.qcodes),
        |    p -> cast(p[1] as double) * cast(p[2] as double))) * c.scale * q.qscale as score
        |from c cross join q
        |order by score desc, vec_id
        |limit 20""".stripMargin),

    // Persisted IVF index under the gate: k-means-train the centroids
    // in Spark (2 Lloyd rounds), build the cell-partitioned parquet
    // index, then query it with nprobe = all cells — which degenerates
    // to exact brute force, so the DuckDB twin is plain all-rows
    // cosine top-k and the gate proves the train+write+read path
    // (assignment, partition layout, pruned scan, scoring) end-to-end
    // regardless of where the centroids landed. nprobe < cells is the
    // ANN path (recall + cell-balance spec'd).
    QueryDef("q49_ivf_index_topk", { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q49").toString
      val e = Tables(s, dir, "embeddings")
      val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", k = 8, iters = 2)
      val query = e.filter(col("vec_id") === 2)
        .select("embedding").collect()(0).getSeq[Float](0).toArray
      Similarity.ivfWriteIndex(e, "vec_id", "embedding", centroids, s"$work/ivf")
      Similarity.ivfTopKFromIndex(s, s"$work/ivf", "vec_id", "embedding",
        query, k = 15, centroids, nprobe = centroids.length)
    },
      """with q as (select embedding as qv from embeddings where vec_id = 2),
        |s as (select vec_id,
        |  list_sum(list_transform(list_zip(embedding, (select qv from q)),
        |    p -> cast(p[1] as double) * cast(p[2] as double)))
        |  / (sqrt(list_sum(list_transform(list_zip(embedding, embedding),
        |      p -> cast(p[1] as double) * cast(p[2] as double))))
        |    * sqrt((select list_sum(list_transform(list_zip(qv, qv),
        |      p -> cast(p[1] as double) * cast(p[2] as double))) from q))) as score
        |from embeddings)
        |select vec_id, score from s
        |order by score desc, vec_id
        |limit 15""".stripMargin),

    // Embedding-cosine near-dup at corpus scale: banded hyperplane-
    // LSH candidates → exact cosine verify on candidates only
    // (Similarity.cosineNearDuplicates). Near-copies are PLANTED
    // deterministically (id+100000, elementwise (1+((id+i)%7)*0.005)
    // scaling → cosine ≈ 0.9996) because the raw corpus holds no pair
    // above 0.52; the DuckDB twin is all-pairs brute force over the
    // same union, so the gate also proves the banding loses no pair
    // at this threshold (per-pair miss prob ≈ 7e-11)
    QueryDef("q47_embedding_near_dup", { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val base = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // the base id is staged under an unambiguous name: aliasing the
      // shifted id to "vec_id" in the SAME select would make Spark's
      // lateral-column-alias resolution bind the lambda's vec_id to
      // the NEW alias while DuckDB's lambda sees the input column —
      // a 1e-5 score divergence that cost one gate round-trip
      val planted = e.filter(col("vec_id") % 17 === 3)
        .select(col("vec_id").as("_bid"), col("embedding"))
        .select(
          (col("_bid") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x.cast(DoubleType) *
              (lit(1.0) + ((col("_bid") + i) % 7).cast(DoubleType) * lit(0.005))).as("v"))
      // bands=8 (8-bit chunks): at this 0.9 threshold the planted
      // pairs (cos ≈ 0.9996) still collide with prob ≈ 1−1e-10, while
      // chance collisions among the near-orthogonal base corpus drop
      // from ~64% of all pairs (4-bit chunks — made the exact verify
      // effectively all-pairs, 50 s at sf0.1) to ~3%
      Similarity.cosineNearDuplicates(base.unionByName(planted), "vec_id", "v",
          minCosine = 0.9, dim = 64, bands = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
      Q47Sql,
      tags = Set(Tag.QuadraticOracle)),

    // Incremental embedding dedup under the gate (r12): the q47
    // semantics through the PERSISTED LSH-signature index — the base
    // corpus builds the index, the planted near-copies arrive as the
    // batch, and only batch-touching pairs may surface. Same fixture
    // completeness argument as q47 (planted pairs collide with prob
    // ≈ 1−1e-10 at bands=8; no base pair reaches the threshold), so
    // the all-pairs twin restricted to the batch is exact. An index
    // write, marker, union-census or batch-restriction bug changes
    // the pair set and breaks the hash.
    QueryDef("q122_incremental_embedding_dedup", { (s, dir) =>
      val idx = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q122").getAbsolutePath
      val e = Tables(s, dir, "embeddings")
      val base = e.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val planted = e.filter(col("vec_id") % 17 === 3)
        .select(col("vec_id").as("_bid"), col("embedding"))
        .select(
          (col("_bid") + 100000L).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            x.cast(DoubleType) *
              (lit(1.0) + ((col("_bid") + i) % 7).cast(DoubleType) * lit(0.005))).as("v"))
      Similarity.cosineWriteIndex(base, "vec_id", "v", idx, dim = 64)
      Similarity.incrementalCosineNearDuplicates(s, planted, "vec_id", "v",
          idx, base, minCosine = 0.9, dim = 64, bands = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
      // incremental embedding twin: q47's all-pairs chain restricted
      // to pairs touching the planted batch (ids >= 100000)
      """with base as (select vec_id, embedding::DOUBLE[] as v from embeddings),
        | planted as (
        |  select vec_id + 100000 as vec_id,
        |    list_transform(list_zip(embedding, range(0, len(embedding))),
        |      t -> cast(t[1] as double) * (1 + ((vec_id + t[2]) % 7) * 0.005::DOUBLE)) as v
        |  from embeddings where vec_id % 17 = 3),
        | u as (select * from base union all select * from planted),
        | p as (select a.vec_id as id_a, b.vec_id as id_b,
        |    list_sum(list_transform(list_zip(a.v, b.v),
        |      t -> cast(t[1] as double) * cast(t[2] as double)))
        |    / (sqrt(list_sum(list_transform(list_zip(a.v, a.v),
        |        t -> cast(t[1] as double) * cast(t[2] as double))))
        |     * sqrt(list_sum(list_transform(list_zip(b.v, b.v),
        |        t -> cast(t[1] as double) * cast(t[2] as double))))) as score
        |  from u a join u b on a.vec_id < b.vec_id
        |  where a.vec_id >= 100000 or b.vec_id >= 100000)
        |select id_a, id_b, score from p where score >= 0.9
        |order by id_a, id_b""".stripMargin,
      tags = Set(Tag.QuadraticOracle)),

    // Broder containment over word bigram-shingle sets (r15): the
    // asymmetric dedup measure that catches quoted/wrapped documents
    // jaccard dilutes away. md5 oracle family — the DuckDB twin
    // re-derives the shingle sets, the df-capped inverted-index
    // candidate admission and the exact overlap arithmetic.
    QueryDef("q132_containment_pairs", { (s, dir) =>
      Dedup.containmentPairs(Tables(s, dir, "documents"), "doc_id", "text",
          minContainment = 0.6, shingleK = 2, maxDf = 20, minSetSize = 5,
          family = "md5")
        .orderBy(col("contained_id"), col("container_id"))
    },
      // containment twin (r15): q23's md5 shingle chain feeding the
      // df-capped inverted-index candidate admission, then exact
      // set-overlap arithmetic in both orientations — the same
      // expression tree (double overlap / double set size) on both
      // sides, so the raw doubles hash identically.
      s"""with tok as (
        |  select doc_id,
        |    case when length(norm) = 0 then [] else string_split(norm, ' ') end as toks
        |  from (select doc_id, $OracleNorm as norm from documents)),
        |sh as (
        |  select doc_id,
        |    list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1]) as sh
        |  from tok where len(toks) >= 6),
        |s as (
        |  select doc_id,
        |    list_distinct(list_transform(sh,
        |      x -> ('0x' || substr(md5(x), 1, 15))::bigint)) as s
        |  from sh),
        |sz as (select doc_id, s, len(s) as n from s),
        |inv as (select doc_id, u.h from sz, unnest(s) as u(h)),
        |keep as (select h from inv group by h having count(*) between 2 and 20),
        |ki as (select i.doc_id, i.h from inv i join keep k on i.h = k.h),
        |pr as (select distinct a.doc_id as id_a, b.doc_id as id_b
        |  from ki a join ki b on a.h = b.h and a.doc_id < b.doc_id),
        |ov as (select pr.id_a, pr.id_b,
        |    cast(len(list_intersect(sa.s, sb.s)) as double) as i,
        |    cast(sa.n as double) as na, cast(sb.n as double) as nb
        |  from pr
        |  join sz sa on sa.doc_id = pr.id_a
        |  join sz sb on sb.doc_id = pr.id_b),
        |o as (
        |  select id_a as contained_id, id_b as container_id, i / na as containment
        |  from ov where i / na >= 0.6
        |  union all
        |  select id_b as contained_id, id_a as container_id, i / nb as containment
        |  from ov where i / nb >= 0.6)
        |select contained_id, container_id, containment from o
        |order by contained_id, container_id""".stripMargin),

    // Product-quantization ADC under the gate, via the lossless
    // degenerate codebook (every distinct sub-vector its own centroid
    // — the q49 full-probe trick): encoding must pick each row's own
    // sub-vectors and the ADC lookup sum then equals the
    // subspace-grouped exact dot bit-for-bit, which DuckDB reproduces
    // with nested list_sums in the same order. A wrong code, wrong
    // slice boundary, or wrong LUT entry all flip the hash. The lossy
    // trained path (k ≪ n) is spec'd for shortlist recall instead.
    // The gate subset is bounded (vec_id < 500) because the lossless
    // codebook is k=n: its assignment join is O(n²) FLOPs BY DESIGN —
    // a gate device, not the production path (trained k ≪ n is
    // linear). A fixed subset keeps the degenerate cost flat at every
    // SF while still gating every moving part.
    QueryDef("q69_pq_adc_topk", { (s, dir) =>
      val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 500)
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      val cb = Similarity.pqCodebookExact(e, "embedding", m = 8)
      val codes = Similarity.pqEncode(e, "vec_id", "embedding", cb)
      Similarity.pqAdcTopK(codes, "vec_id", q, cb, 20)
    },
      """with q as (select embedding from embeddings where vec_id = 0),
        |s as (select e.vec_id,
        |    list_sum(list_transform(range(0, 8), sb ->
        |      list_sum(list_transform(range(1, 9), i ->
        |        cast(e.embedding[sb*8 + i] as double)
        |          * cast(q.embedding[sb*8 + i] as double))))) as score
        |  from embeddings e cross join q where e.vec_id < 500)
        |select vec_id, score from s
        |order by score desc, vec_id
        |limit 20""".stripMargin),

    // Exact-substring dedup signal under the gate: corpus-wide trigram
    // window census → duplicated-interval union per doc, left-joined
    // so clean docs surface as zeros.
    QueryDef("q70_duplicated_spans", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val sig = Dedup.duplicatedSpans(docs, "doc_id", "text", w = 3)
      docs.select(col("doc_id"))
        .join(sig.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          coalesce(col("dup_token_frac"), lit(0.0)).as("dup_token_frac"))
        .orderBy(col("doc_id"))
    },
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |x as (select doc_id, w, len(w) as n_tokens,
        |    unnest(range(1, greatest(len(w)-3+1, 0)+1)) as i from d),
        |g as (select doc_id, n_tokens, i - 1 as pos,
        |    array_to_string(list_slice(w, i, i+2), ' ') as gram from x),
        |census as (select gram from g group by gram having count(*) >= 2),
        |dup as (select g.doc_id, g.n_tokens, g.pos from g join census using (gram)),
        |lagd as (select doc_id, n_tokens, pos,
        |    lag(pos) over (partition by doc_id order by pos) as prev from dup),
        |agg as (select doc_id, count(*) as n_dup_windows,
        |    sum(case when prev is null then 3 else least(3, pos - prev) end) as dup_tokens,
        |    max(n_tokens) as nt
        |  from lagd group by doc_id)
        |select d2.doc_id,
        |  cast(coalesce(agg.n_dup_windows, 0) as bigint) as n_dup_windows,
        |  cast(coalesce(agg.dup_tokens, 0) as bigint) as dup_tokens,
        |  coalesce(cast(agg.dup_tokens as double)
        |    / cast(greatest(agg.nt, 1) as double), 0.0) as dup_token_frac
        |from (select doc_id from documents) d2 left join agg using (doc_id)
        |order by d2.doc_id""".stripMargin),

    // IVF-PQ persisted index under the gate (the FAISS composition,
    // q49 × q69): trained coarse centroids partition the codes-only
    // index; nprobe=all + the lossless codebook degenerate the ADC
    // search to exact subspace-grouped dot — so the whole
    // train→encode→write→prune→ADC path shares q69's DuckDB twin.
    // Queries read codes partitions only; no vector column exists in
    // the index at all.
    QueryDef("q71_ivfpq_index_topk", { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q71").toString
      // bounded like q69: the lossless codebook is the O(n²) gate device
      val e = Tables(s, dir, "embeddings").filter(col("vec_id") < 500)
      val centroids = Similarity.trainCentroids(e, "vec_id", "embedding", k = 8, iters = 2)
      val cb = Similarity.pqCodebookExact(e, "embedding", m = 8)
      val q = e.filter(col("vec_id") === 0).select(col("embedding"))
        .head().getSeq[Float](0).toArray
      Similarity.pqIvfWriteIndex(e, "vec_id", "embedding", centroids, cb, s"$work/ivfpq")
      Similarity.pqIvfTopKFromIndex(s, s"$work/ivfpq", "vec_id", q,
        centroids, cb, k = 20, nprobe = centroids.length)
    },
      // q71 shares q69's twin: full probe + lossless codebook ≡ the
      // subspace-grouped exact dot top-k, index plumbing notwithstanding
      """with q as (select embedding from embeddings where vec_id = 0),
        |s as (select e.vec_id,
        |    list_sum(list_transform(range(0, 8), sb ->
        |      list_sum(list_transform(range(1, 9), i ->
        |        cast(e.embedding[sb*8 + i] as double)
        |          * cast(q.embedding[sb*8 + i] as double))))) as score
        |  from embeddings e cross join q where e.vec_id < 500)
        |select vec_id, score from s
        |order by score desc, vec_id
        |limit 20""".stripMargin),

    // Incremental dedup under the gate: the corpus signatures persist
    // to a parquet index, then a PLANTED batch (every doc_id≡3 mod 17,
    // one appended token → jaccard ≈0.97 vs its source) dedups against
    // index + itself — old-old pairs never enter the plan. The DuckDB
    // twin is all-pairs exact jaccard over the union RESTRICTED to
    // pairs touching the batch, so the gate also proves the banding
    // loses no batch-touching pair at this threshold (q33's contract,
    // incrementally).
    QueryDef("q74_incremental_dedup", { (s, dir) =>
      val work = java.nio.file.Files.createTempDirectory("graft_q74").toString
      val docs = Tables(s, dir, "documents")
      Dedup.minhashWriteIndex(docs, "doc_id", "text", s"$work/sigidx",
        numHashes = 32, shingleK = 2)
      val newBatch = docs.filter(col("doc_id") % 17 === 3)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" graftnew")).as("text"))
      Dedup.incrementalNearDuplicates(s, newBatch, "doc_id", "text",
          s"$work/sigidx", docs.select(col("doc_id"), col("text")),
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""with nb as (select doc_id + 100000 as doc_id, text || ' graftnew' as text
        |    from documents where doc_id % 17 = 3),
        |u as (select doc_id, text, 0 as is_new from documents
        |      union all select doc_id, text, 1 as is_new from nb),
        |d as (select doc_id, is_new, string_split($OracleNorm, ' ') as w from u),
        |sh as (select doc_id, is_new,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d)
        |select a.doc_id as id_a, b.doc_id as id_b,
        |  cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) as jaccard
        |from sh a join sh b on a.doc_id < b.doc_id
        |where (a.is_new = 1 or b.is_new = 1)
        |  and cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6
        |order by id_a, id_b""".stripMargin,
      tags = Set(Tag.QuadraticOracle)),

    // Canonical selection under the gate: near-dup pairs → connected
    // components (q57's machinery) → keep the highest-quality doc per
    // cluster, ties to the lowest id. The DuckDB twin recomputes the
    // closure with a recursive CTE and the winner with a rank window
    // — per-doc cluster, quality AND the keep decision all hash.
    QueryDef("q78_canonical_selection", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val scored = docs.select(col("doc_id"),
        Text.qualityScore(col("text")).as("quality"))
      val pairs = Dedup.nearDuplicates(docs, "doc_id", "text",
          minJaccard = 0.6, numHashes = 32, bands = 16, shingleK = 2,
          minEstimate = 0.1, maxBucket = 1000)
        .select(col("id_a"), col("id_b"))
      Dedup.canonicalPerCluster(scored, "doc_id", "quality", pairs)
        .select(col("doc_id"), col("cluster"), col("quality"), col("is_kept"))
        .orderBy(col("doc_id"))
    },
      s"""with recursive d as (select doc_id, string_split($OracleNorm, ' ') as w from documents),
        |sh as (select doc_id,
        |  list_distinct(list_transform(range(1, greatest(len(w)-2+1, 0)+1),
        |    i -> array_to_string(list_slice(w, i, i+1), ' '))) as s
        |  from d),
        |p as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sh a join sh b on a.doc_id < b.doc_id
        |  where cast(len(list_intersect(a.s, b.s)) as double)
        |    / cast(greatest(len(list_distinct(list_concat(a.s, b.s))), 1) as double) >= 0.6),
        |e as (select id_a as src, id_b as dst from p
        |      union select id_b, id_a from p),
        |reach(src, dst) as (
        |  select src, dst from e
        |  union
        |  select r.src, e2.dst from reach r join e e2 on r.dst = e2.src),
        |lab as (select src as doc_id, min(dst) as mn from reach group by src),
        |q as (
        |  select doc_id,
        |    0.4 * least(cast($OracleNTokens as double) / 50.0, 1.0)
        |    + 0.3 * least(cast(len(list_filter($OracleTokens, t -> t in ($OracleStop))) as double)
        |        / cast(greatest($OracleNTokens, 1) as double) * 4.0, 1.0)
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[.,!?;:]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0))
        |    + 0.15 * (1.0 - least(cast(len(regexp_extract_all(text, '[0-9]')) as double)
        |        / cast(greatest(length(text),1) as double) * 5.0, 1.0)) as quality
        |  from documents),
        |assigned as (select doc.doc_id, q.quality,
        |    least(doc.doc_id, coalesce(l.mn, doc.doc_id)) as cluster
        |  from documents doc
        |  join q on doc.doc_id = q.doc_id
        |  left join lab l on doc.doc_id = l.doc_id),
        |ranked as (select doc_id, cluster, quality,
        |    row_number() over (partition by cluster
        |      order by quality desc, doc_id) as rk
        |  from assigned)
        |select doc_id, cluster, quality, rk = 1 as is_kept
        |from ranked
        |order by doc_id""".stripMargin,
      tags = Set(Tag.QuadraticOracle)),

    // SemDeDup under the gate: embeddings ∪ planted exact-scaled
    // copies (×2 per element — float-exact, cosine exactly 1.0 with
    // the original), clustered on the first four embedding vectors as
    // fixed centroids (a gate device like q69's codebook — training
    // is spec'd separately); every planted copy must land in its
    // original's cluster and lose to the lower id. Cluster + keep
    // decisions cross the hash.
    QueryDef("q86_semdedup", { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val planted = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val union = e.select(col("vec_id"), col("embedding")).unionByName(planted)
      val cents = e.filter(col("vec_id") < 4).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
      Similarity.semDedup(union, "vec_id", "embedding", cents, threshold = 0.999)
        .orderBy(col("vec_id"))
    },
      """with u as (
        |  select vec_id, embedding from embeddings
        |  union all
        |  select vec_id + 100000, list_transform(embedding, x -> cast(x * 2 as real))
        |  from embeddings where vec_id < 50),
        |c as (select vec_id as cell, embedding as cvec from embeddings where vec_id < 4),
        |sc as (select u.vec_id, u.embedding, c.cell,
        |    list_sum(list_transform(list_zip(u.embedding, c.cvec),
        |      p -> cast(p[1] as double) * cast(p[2] as double))) as s
        |  from u cross join c),
        |asg as (select vec_id, embedding, cell from (
        |    select vec_id, embedding, cell,
        |      row_number() over (partition by vec_id order by s desc, cell asc) as rn
        |    from sc) where rn = 1),
        |p as (select b.vec_id as idb
        |  from asg a join asg b on a.cell = b.cell and a.vec_id < b.vec_id
        |  where list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |      p -> cast(p[1] as double) * cast(p[2] as double)))
        |    / (sqrt(list_sum(list_transform(list_zip(a.embedding, a.embedding),
        |        p -> cast(p[1] as double) * cast(p[2] as double))))
        |      * sqrt(list_sum(list_transform(list_zip(b.embedding, b.embedding),
        |        p -> cast(p[1] as double) * cast(p[2] as double))))) >= 0.999),
        |d as (select distinct idb from p)
        |select asg.vec_id, cast(asg.cell as integer) as cell,
        |  (d.idb is null) as is_kept
        |from asg left join d on asg.vec_id = d.idb
        |order by asg.vec_id""".stripMargin),

    // Exact-substring dedup as a transformation: cut every token
    // covered by a duplicated 3-token window except the corpus-wide
    // first occurrence of that window — rebuilt token stream and
    // removal counts cross the hash.
    QueryDef("q85_span_removal", { (s, dir) =>
      // the twin's token CTE can't express Spark's empty-text → []
      // guard, so both sides restrict to docs with non-empty
      // normalized text (all of them, in this fixture)
      Dedup.removeDuplicatedSpans(
          Tables(s, dir, "documents").select(col("doc_id"), col("text"))
            .filter(length(Text.normalized(col("text"))) > 0),
          "doc_id", "text", w = 3)
        .select(col("doc_id"), col("text_despanned"),
          col("n_tokens").cast(LongType).as("n_tokens"),
          col("n_removed_tokens").cast(LongType).as("n_removed_tokens"))
        .orderBy(col("doc_id"))
    },
      s"""with d as (select doc_id, string_split($OracleNorm, ' ') as w,
        |    len(string_split($OracleNorm, ' ')) as nt from documents
        |  where length($OracleNorm) > 0),
        |x as (select doc_id, w, nt,
        |    unnest(range(1, greatest(nt-3+1, 0)+1)) as i from d),
        |g as (select doc_id, i - 1 as pos,
        |    array_to_string(list_slice(w, i, i+2), ' ') as gram from x),
        |c as (select gram, min(doc_id*1000000 + pos) as wk
        |  from g group by 1 having count(*) >= 2),
        |nf as (select g.doc_id, g.pos from g join c using (gram)
        |  where g.doc_id*1000000 + g.pos <> c.wk),
        |cov as (select distinct doc_id, unnest(range(pos, pos+3)) as cp from nf),
        |tk as (select doc_id, i - 1 as tp, w[i] as tok
        |  from (select doc_id, w, unnest(range(1, len(w)+1)) as i from d)),
        |kp as (select tk.doc_id, tk.tp, tk.tok from tk
        |  left join cov on tk.doc_id = cov.doc_id and tk.tp = cov.cp
        |  where cov.cp is null),
        |r as (select doc_id, string_agg(tok, ' ' order by tp) as text_despanned,
        |    count(*) as kept from kp group by 1)
        |select d.doc_id, coalesce(r.text_despanned, '') as text_despanned,
        |  cast(d.nt as bigint) as n_tokens,
        |  cast(d.nt - coalesce(r.kept, 0) as bigint) as n_removed_tokens
        |from d left join r using (doc_id)
        |order by d.doc_id""".stripMargin),

    // Bloom seen-set under the gate (r11): build the bitmap from
    // half the corpus's fingerprints, probe ALL fingerprints — the
    // twin replays every md5-salted position, the 32-bit word
    // packing, the bit_or build and the all-bits-set probe, so the
    // gate pins build+probe end-to-end INCLUDING the (deterministic,
    // engine-identical) false positives.
    QueryDef("q116_bloom_seen", { (s, dir) =>
      val keys = Tables(s, dir, "documents")
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
      val filter = Dedup.bloomBuild(
        keys.filter(col("doc_id") % 2 === 0), "fp", mBits = 65536L, k = 6)
      Dedup.bloomProbe(keys, "fp", filter, mBits = 65536L, k = 6)
        .select(col("doc_id"), col("maybe_seen"))
        .orderBy(col("doc_id"))
    },
      // bloom twin: md5-salted positions, 32-bits-per-word bit_or
      // build, all-bits-set probe — the identical bitmap on both sides
      s"""with keys as (select doc_id, md5($OracleNorm) as fp from documents),
        |pos as (select doc_id, fp, i.i,
        |    ('0x' || substr(md5(cast(i.i as varchar) || ':' || fp), 1, 15))::bigint % 65536 as p
        |  from keys cross join range(0, 6) i(i)),
        |build as (select (p // 32) as word,
        |    bit_or((1::bigint << cast(p % 32 as int))) as bits
        |  from pos where doc_id % 2 = 0 group by 1),
        |probe as (select pos.doc_id,
        |    bool_and(coalesce(b.bits, 0) & (1::bigint << cast(pos.p % 32 as int)) <> 0)
        |      as maybe_seen
        |  from pos left join build b on (pos.p // 32) = b.word
        |  group by pos.doc_id)
        |select doc_id, maybe_seen from probe order by doc_id""".stripMargin),

    // Embedding pooling under the gate (r10): chunk→group max-pool —
    // element-wise max is order-independent and IEEE-exact, so the
    // full pipeline (posexplode, per-(id,dim) agg, sorted array
    // rebuild, re-explode) hash-gates cross-engine in long form. A
    // dimension-alignment or rebuild-order bug scrambles (dim, v)
    // pairs and breaks the hash.
    QueryDef("q101_embedding_pooling", { (s, dir) =>
      Similarity.poolEmbeddings(
          Tables(s, dir, "embeddings")
            .select((col("vec_id") % 97).as("gid"), col("embedding")),
          "gid", "embedding", mode = "max")
        .select(col("id").as("gid"), col("n_chunks"),
          posexplode(col("pooled")).as(Seq("dim", "v")))
        .select(col("gid"), col("n_chunks"), col("dim"), col("v"))
        .orderBy(col("gid"), col("dim"))
    },
      // pooling twin: DuckDB's parallel double-unnest zips value and
      // index; element-wise max of exact floats cast to double
      """with u as (select vec_id % 97 as gid, unnest(embedding) as v,
        |    unnest(range(0, len(embedding))) as dim
        |  from embeddings),
        |p as (select gid, dim, max(cast(v as double)) as v, count(*) as n
        |  from u group by 1, 2)
        |select gid, cast(n as bigint) as n_chunks, cast(dim as int) as dim, v
        |from p
        |order by gid, dim""".stripMargin)
  )

  /** q47 twin: brute-force all-pairs cosine over the same
    * base-plus-planted union (0.005 cast to double — a DuckDB decimal
    * literal would perturb the factor vs Spark's double arithmetic). */
  private val Q47Sql =
    """with base as (select vec_id, embedding::DOUBLE[] as v from embeddings),
      | planted as (
      |  select vec_id + 100000 as vec_id,
      |    list_transform(list_zip(embedding, range(0, len(embedding))),
      |      t -> cast(t[1] as double) * (1 + ((vec_id + t[2]) % 7) * 0.005::DOUBLE)) as v
      |  from embeddings where vec_id % 17 = 3),
      | u as (select * from base union all select * from planted),
      | p as (select a.vec_id as id_a, b.vec_id as id_b,
      |    list_sum(list_transform(list_zip(a.v, b.v),
      |      t -> cast(t[1] as double) * cast(t[2] as double)))
      |    / (sqrt(list_sum(list_transform(list_zip(a.v, a.v),
      |        t -> cast(t[1] as double) * cast(t[2] as double))))
      |     * sqrt(list_sum(list_transform(list_zip(b.v, b.v),
      |        t -> cast(t[1] as double) * cast(t[2] as double))))) as score
      |  from u a join u b on a.vec_id < b.vec_id)
      |select id_a, id_b, score from p where score >= 0.9
      |order by id_a, id_b""".stripMargin

  /** q24's 60-bit md5-family SimHash, unrolled for the twin: per-bit
    * ±1 vote sums over token hashes, then sign-pack. */
  private val OracleSimhashVotes =
    (0 until 60).map(j =>
      s"sum(case when (h >> $j) & 1 = 1 then 1 else -1 end) as v$j").mkString(", ")
  private val OracleSimhashPack =
    (0 until 60).map(j =>
      s"case when v$j > 0 then ${1L << j}::bigint else 0::bigint end").mkString(" + ")
}
