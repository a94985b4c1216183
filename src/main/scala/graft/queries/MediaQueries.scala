package graft
package queries

import graft.operators.{Multimodal, Similarity}
import graft.sinks.TarShards
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Media queries: container probing and pixel/audio/video decode,
  * perceptual fingerprints and media near-dup. */
object MediaQueries {

  def all: Seq[QueryDef] = Seq(

    // multimodal binary columns: synthesize → partition-wise decode →
    // typed metadata (codec stubbed, plumbing real; Multimodal.scala)
    QueryDef("q26_multimodal_meta", { (s, dir) =>
      Multimodal.decodeMeta(Multimodal.syntheticMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      """select doc_id,
        |  case cast(doc_id % 3 as int) when 0 then 'image' when 1 then 'audio' else 'video' end as media_type,
        |  cast((doc_id % 64 + 1) * 16 as int) as width,
        |  cast((doc_id % 48 + 1) * 16 as int) as height,
        |  cast(case when doc_id % 3 = 2 then doc_id % 30 + 1 else 1 end as int) as n_frames,
        |  80 as byte_size,
        |  true as valid
        |from documents
        |order by doc_id""".stripMargin),

    // REAL pixel decode under the gate: gradient rasters written as
    // actual PNG (all five scanline filters in rotation, zlib
    // inflate) and 24bpp BMP (bottom-up, stride-padded), decoded back
    // to pixels per partition; the oracle recomputes the per-image
    // pixel statistics from the generating formula v=(x+y+id)%256.
    // A wrong filter reversal, inflate bug or stride error shifts
    // sum/min/max and breaks the hash.
    QueryDef("q46_pixel_decode", { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents),
        | px as (select d.doc_id, d.w, d.h,
        |    (x.range + y.range + d.doc_id) % 256 as v
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h,
        |    count(*) as n, sum(v) as s, min(v) as mn, max(v) as mx
        |  from px group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown'
        |       when doc_id % 2 = 0 then 'png' else 'bmp' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else n end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // REAL resize under the gate: decode the actual PNG/BMP rasters,
    // nearest-neighbor to 8×8 (source pixel (x·w/8, y·h/8), integer
    // floor), pixel statistics of the thumbnail. The twin recomputes
    // them from the generating formula with the same floor sampling —
    // a wrong sample coordinate or stride shifts the stats.
    QueryDef("q48_pixel_resize", { (s, dir) =>
      Multimodal.resizePixels(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")), 8, 8)
        .toDF()
        .orderBy(col("doc_id"))
    },
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents),
        | px as (select d.doc_id, d.w, d.h,
        |    ((x.range * d.w) // 8 + (y.range * d.h) // 8 + d.doc_id) % 256 as v
        |  from d cross join range(0, 8) x cross join range(0, 8) y),
        | agg as (select doc_id, w, h,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from px group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown'
        |       when doc_id % 2 = 0 then 'png' else 'bmp' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as src_width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as src_height,
        |  cast(case when doc_id % 25 = 0 then 0 else 8 end as int) as out_width,
        |  cast(case when doc_id % 25 = 0 then 0 else 8 end as int) as out_height,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // REAL feature extraction under the gate: grayscale histograms of
    // the actually-decoded rasters (8 bins over 0..255), long format —
    // the oracle recomputes per-bin counts from the generating
    // formula; a decode or binning bug shifts counts between bins
    QueryDef("q50_pixel_histogram", { (s, dir) =>
      Multimodal.pixelHistogram(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")), bins = 8)
        .toDF()
        .orderBy(col("doc_id"), col("bin"))
    },
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents
        |  where doc_id % 25 <> 0),
        | px as (select d.doc_id,
        |    (x.range + y.range + d.doc_id) % 256 as v
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h)
        |select doc_id, cast(v // 32 as int) as bin, count(*) as n
        |from px
        |group by doc_id, bin
        |order by doc_id, bin""".stripMargin),

    // REAL GIF LZW decode under the gate: the same gradient rasters
    // written as genuinely LZW-compressed GIF89a (variable-width
    // codes, clear-code resets, grayscale palette) and decoded back —
    // the twin recomputes the statistics from the generating formula.
    // A wrong code-width transition, mis-rebuilt table entry or
    // palette mapping shifts sum/min/max and breaks the hash.
    QueryDef("q51_gif_pixel_decode", { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticGifMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents),
        | px as (select d.doc_id, d.w, d.h,
        |    (x.range + y.range + d.doc_id) % 256 as v
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h,
        |    count(*) as n, sum(v) as s, min(v) as mn, max(v) as mx
        |  from px group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'gif' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else n end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // The multimodal→similarity pipeline under one gate: decode real
    // rasters → normalized-histogram feature vectors → cosine top-k
    // against doc 7's vector (Similarity.bruteForceTopK over REAL
    // image features, not synthetic embeddings). The twin recomputes
    // histograms from the pixel formula, normalizes through the same
    // float cast, and ranks with the same double math.
    QueryDef("q56_pixel_feature_topk", { (s, dir) =>
      val feats = Multimodal.pixelFeatureVectors(
        Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")), bins = 16)
      val query = feats.filter(col("doc_id") === 7)
        .select("feature").collect()(0).getSeq[Float](0).toArray
      Similarity.bruteForceTopK(feats, "doc_id", "feature", query, k = 15)
    },
      """with d as (select doc_id, (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h
        |  from documents where doc_id % 25 <> 0),
        | px as (select d.doc_id, (x.range + y.range + d.doc_id) % 256 as v
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h),
        | hist as (select doc_id, v // 16 as bin, count(*) as c
        |  from px group by doc_id, bin),
        | tot as (select doc_id, cast(sum(c) as double) as n from hist group by doc_id),
        | dense as (select t.doc_id, b.range as bin,
        |    cast(coalesce(h.c, 0) / t.n as float) as f
        |  from tot t cross join range(0, 16) b
        |  left join hist h on h.doc_id = t.doc_id and h.bin = b.range),
        | vecs as (select doc_id, list(f order by bin) as fv from dense group by doc_id),
        | q as (select fv as qv from vecs where doc_id = 7),
        | s as (select v.doc_id,
        |    list_sum(list_transform(list_zip(v.fv, (select qv from q)),
        |      p -> cast(p[1] as double) * cast(p[2] as double)))
        |    / (sqrt(list_sum(list_transform(list_zip(v.fv, v.fv),
        |        p -> cast(p[1] as double) * cast(p[2] as double))))
        |      * sqrt((select list_sum(list_transform(list_zip(qv, qv),
        |        p -> cast(p[1] as double) * cast(p[2] as double))) from q))) as score
        |  from vecs v)
        |select doc_id, score from s
        |order by score desc, doc_id
        |limit 15""".stripMargin),

    // REAL JPEG decode under the gate, despite JPEG being lossy: the
    // synthetic tiles are per-8×8-block EVEN constants, which survive
    // the DC-only encode bit-exactly (quant step 16 ⇒ DC=(c−128)/2 is
    // integral; the IDCT of a DC-only block is an exact constant), so
    // the DuckDB twin recomputes the statistics from the tile formula.
    // The decoder is a full baseline decoder (huffman, dequant, IDCT);
    // its AC path is ImageIO-cross-checked in the spec.
    QueryDef("q55_jpeg_pixel_decode", { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      """with d as (select doc_id,
        |    doc_id % 4 + 1 as bw, doc_id % 3 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + d.doc_id) % 128) as v
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // COLOR JPEG decode under the gate: the DC-lattice contract
    // extended per channel — exact even Y/Cb/Cr tile constants (4:4:4
    // on even ids, 4:2:0 on odd; replication upsampling reconstructs
    // per-MCU chroma exactly) through the full interleaved-MCU decode
    // and the JFIF YCbCr→RGB formula, per-channel stats vs the DuckDB
    // twin computing the same floor(x+0.5)-rounded double arithmetic.
    QueryDef("q61_jpeg_color_decode", { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticJpegColorMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // Per-channel twin of q55's lattice: tile Y/Cb/Cr constants from
      // the doc_id formulas (4:4:4 per tile on even ids; 4:2:0 per-MCU
      // chroma on odd ids, so chroma indexes are luma-tile // 2), RGB =
      // the same JFIF double arithmetic as the decoder (e-notation
      // literals keep DuckDB in DOUBLE, not DECIMAL; floor(x+0.5) is the
      // decoder's rounding — exact in both engines). Every tile is a
      // 64-pixel constant, so sums scale by 64.
      """with d as (select doc_id,
        |    doc_id % 2 = 0 as s444,
        |    cast(case when doc_id % 2 = 0 then doc_id % 4 + 1
        |              else 2 * (doc_id % 3 + 1) end as bigint) as bw,
        |    cast(case when doc_id % 2 = 0 then doc_id % 3 + 1
        |              else 2 * (doc_id % 2 + 1) end as bigint) as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + d.doc_id) % 128) as yv,
        |    case when d.s444 then 2 * ((2 * x.range + y.range + d.doc_id) % 128)
        |         else 2 * ((x.range // 2 + 2 * (y.range // 2) + d.doc_id) % 128) end as cbv,
        |    case when d.s444 then 2 * ((x.range + 2 * y.range + 3 * d.doc_id) % 128)
        |         else 2 * ((3 * (x.range // 2) + y.range // 2 + d.doc_id) % 128) end as crv
        |  from d cross join range(0, 6) x cross join range(0, 4) y
        |  where x.range < d.bw and y.range < d.bh),
        | rgb as (select doc_id, bw, bh,
        |    least(255, greatest(0, floor(yv + 1.402e0 * (crv - 128) + 0.5e0))) as r,
        |    least(255, greatest(0, floor(yv - 0.344136e0 * (cbv - 128)
        |      - 0.714136e0 * (crv - 128) + 0.5e0))) as g,
        |    least(255, greatest(0, floor(yv + 1.772e0 * (cbv - 128) + 0.5e0))) as b
        |  from t),
        | agg as (select doc_id, bw, bh,
        |    sum(r) * 64 as rs, sum(g) * 64 as gs, sum(b) * 64 as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from rgb group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // Audio features under the gate: RMS energy (exact-integer
    // sum-of-squares → deterministic double), per-channel
    // zero-crossing counts, peak amplitude — over the same 16-bit PCM
    // corpus q53 gates, so the formula twin reuses its generator.
    QueryDef("q65_audio_features", { (s, dir) =>
      Multimodal.audioFeatures(
          Multimodal.syntheticWavMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // q53's generator feeding the feature math: sum-of-squares is an
      // exact integer on both sides, so sqrt(ssq/n) is the same IEEE
      // double; zero crossings via lag() per (doc, channel) on frame
      // order; peak = max(abs(v))
      """with d as (select doc_id,
        |    8000 + (doc_id % 5) * 8000 as rate,
        |    doc_id % 2 + 1 as ch,
        |    doc_id % 50 + 10 as n
        |  from documents),
        | sv as (select d.doc_id, d.rate, d.ch, i.range as i, c.range as c,
        |    ((i.range * 31 + c.range * 17 + d.doc_id * 7) % 65536) - 32768 as v
        |  from d cross join range(0, 60) i cross join range(0, 2) c
        |  where i.range < d.n and c.range < d.ch),
        | zc as (select doc_id, count(*) as z from (
        |    select doc_id, c, v,
        |      lag(v) over (partition by doc_id, c order by i) as pv
        |    from sv) t
        |  where pv is not null and ((v >= 0) <> (pv >= 0))
        |  group by doc_id),
        | agg as (select doc_id, rate, ch, count(*) as cnt,
        |    sum(v * v) as ssq, max(abs(v)) as pk
        |  from sv group by doc_id, rate, ch)
        |select a.doc_id,
        |  cast(case when a.doc_id % 25 = 0 then 0 else a.rate end as int) as sample_rate,
        |  cast(case when a.doc_id % 25 = 0 then 0 else a.ch end as int) as channels,
        |  cast(case when a.doc_id % 25 = 0 then 0 else a.cnt end as bigint) as n_samples,
        |  case when a.doc_id % 25 = 0 then cast(0 as double)
        |       else sqrt(cast(a.ssq as double) / a.cnt) end as rms,
        |  cast(case when a.doc_id % 25 = 0 then 0
        |       else coalesce(z.z, 0) end as bigint) as zero_crossings,
        |  cast(case when a.doc_id % 25 = 0 then 0 else a.pk end as int) as peak,
        |  (a.doc_id % 25 <> 0) as valid
        |from agg a left join zc z on a.doc_id = z.doc_id
        |order by a.doc_id""".stripMargin),

    // PROGRESSIVE JPEG under the gate: the DC-lattice invariant
    // through SOF2 multi-scan decoding (cross-scan coefficient
    // accumulation, DC successive approximation on even ids, per-band
    // AC EOB runs), reconstructed at EOI — same stats shape as q55,
    // different lattice formula and scan structure.
    QueryDef("q64_progressive_jpeg_decode", { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticProgressiveJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // q55's lattice twin with the q64 formula: per-tile constants, so
      // sums scale by 64 — the progressive transport changes nothing
      // about the reconstructed values (that's the invariant under test)
      """with d as (select doc_id,
        |    doc_id % 5 + 1 as bw, doc_id % 2 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((2 * x.range + y.range + d.doc_id) % 128) as v
        |  from d cross join range(0, 5) x cross join range(0, 2) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // The LOSSLESS color tier under one gate: truecolor PNG (bpp-aware
    // filter reversal), 24bpp BMP (BGR flip), palette GIF (palette
    // kept as RGB) — bit-exact containers, so the twin recomputes the
    // per-channel statistics straight from the pixel formulas.
    QueryDef("q63_color_raster_decode", { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticColorRasterMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // Per-channel twin over the lossless color containers: channel
      // values straight from the generator formulas (PNG/BMP carry the
      // rgb formulas; GIF goes index → palette i→(i, 2i mod 256, 255−i))
      """with d as (select doc_id,
        |    (doc_id % 8 + 1) * 2 as w, (doc_id % 6 + 1) * 2 as h,
        |    doc_id % 3 as fmt
        |  from documents),
        | px as (select d.doc_id, d.w, d.h, d.fmt,
        |    case when d.fmt = 2 then (x.range + y.range + d.doc_id) % 256
        |         else (3 * x.range + y.range + d.doc_id) % 256 end as r,
        |    case when d.fmt = 2 then (2 * ((x.range + y.range + d.doc_id) % 256)) % 256
        |         else (x.range + 2 * y.range + 3 * d.doc_id) % 256 end as g,
        |    case when d.fmt = 2 then 255 - ((x.range + y.range + d.doc_id) % 256)
        |         else (2 * x.range + y.range + 7 * d.doc_id) % 256 end as b
        |  from d cross join range(0, 16) x cross join range(0, 12) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h, fmt, count(*) as n,
        |    sum(r) as rs, sum(g) as gs, sum(b) as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from px group by doc_id, w, h, fmt)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown'
        |       when fmt = 0 then 'png' when fmt = 1 then 'bmp'
        |       else 'gif' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else n end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // SUB-BYTE PNG decode under the gate (r8 — the last PNG depth
    // row): 1/2/4-bit gray (bit-replication scaling) and palette
    // (raw-index PLTE expansion), Adam7 every 5th id, packed-row
    // filter reversal at the 1-byte step. Bit-exact containers, so
    // the twin recomputes per-channel statistics from the sample and
    // palette formulas. A packing, scaling or per-pass-unpack bug
    // shifts sums and breaks the hash.
    QueryDef("q87_subbyte_png_decode", { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticSubBytePngMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // Sub-byte twin: gray samples scale by bit replication
      // (s · 255/max, exact integers — 255/85/17 for depths 1/2/4);
      // palette rows run the index formulas. Interlace changes only the
      // container layout, so the twin ignores it.
      """with d as (select doc_id,
        |    (doc_id % 16 + 1) * 2 as w, (doc_id % 12 + 1) * 2 as h,
        |    case doc_id % 3 when 0 then 1 when 1 then 3 else 15 end as mx,
        |    case doc_id % 3 when 0 then 255 when 1 then 85 else 17 end as f
        |  from documents),
        | px as (select d.doc_id, d.w, d.h,
        |    case when d.doc_id % 2 = 0
        |         then ((x.range + y.range + d.doc_id) % (d.mx + 1)) * d.f
        |         else (17 * ((x.range + y.range + d.doc_id) % (d.mx + 1)) + 9) % 256 end as r,
        |    case when d.doc_id % 2 = 0
        |         then ((x.range + y.range + d.doc_id) % (d.mx + 1)) * d.f
        |         else (29 * ((x.range + y.range + d.doc_id) % (d.mx + 1)) + 5) % 256 end as g,
        |    case when d.doc_id % 2 = 0
        |         then ((x.range + y.range + d.doc_id) % (d.mx + 1)) * d.f
        |         else (43 * ((x.range + y.range + d.doc_id) % (d.mx + 1)) + 2) % 256 end as b
        |  from d cross join range(0, 32) x cross join range(0, 24) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h, count(*) as n,
        |    sum(r) as rs, sum(g) as gs, sum(b) as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from px group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'png' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else n end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // ARITHMETIC-coded JPEG decode under the gate (r8 — the last
    // JPEG entropy-coding refusal closed): q55's DC-lattice contract
    // through the T.81 QM coder — adaptive state machine, conditional
    // exchange, FF00 stuffing, Annex D termination — instead of
    // Huffman. Validated byte-exactly against libjpeg in the spec;
    // here the twin recomputes the tile formula. A state-machine,
    // context-index or renormalization bug corrupts every value
    // after the first mis-decoded decision and breaks the hash.
    QueryDef("q90_arith_jpeg_decode", { (s, dir) =>
      Multimodal.decodePixels(
          Multimodal.syntheticArithJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // q55's lattice twin with the arithmetic formula (7·doc_id): the
      // QM coder is lossless on the coefficients, so the closed form is
      // identical in shape
      """with d as (select doc_id,
        |    doc_id % 4 + 1 as bw, doc_id % 3 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + 7 * d.doc_id) % 128) as v
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as pixel_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as pixel_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as pixel_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // CMYK/YCCK JPEG decode under the gate (r8 — the 4-component
    // refusal closed): Adobe APP14 transform 0 (stored inverted CMYK)
    // on even ids, 2 (YCCK) on odd, per-tile even constants exact
    // through the DC-only encode; RGB = the documented conversion
    // (YCbCr→R'G'B' for YCCK, then channel·K/255 over the stored
    // Adobe-inverted values). The twin recomputes per-channel stats
    // from those formulas; a transform-dispatch or inversion bug
    // shifts sums and breaks the hash.
    QueryDef("q88_cmyk_jpeg_decode", { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticCmykJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // CMYK twin: the stored-plane tile constants are exact, so RGB is
      // pure formula — YCCK rows run the JFIF conversion first (the q61
      // clamp idiom), then both transforms apply channel·K/255 with
      // floor(x+0.5)
      """with d as (select doc_id,
        |    cast(doc_id % 4 + 1 as bigint) as bw,
        |    cast(doc_id % 3 + 1 as bigint) as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh, d.doc_id % 2 = 0 as plain,
        |    2 * ((x.range + 3 * y.range + d.doc_id) % 128) as p0,
        |    2 * ((2 * x.range + y.range + 3 * d.doc_id) % 128) as p1,
        |    2 * ((x.range + 2 * y.range + 7 * d.doc_id) % 128) as p2,
        |    2 * ((3 * x.range + y.range + 5 * d.doc_id) % 128) as p3
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | pre as (select doc_id, bw, bh, p3,
        |    case when plain then p0
        |         else least(255, greatest(0, floor(p0 + 1.402e0 * (p2 - 128) + 0.5e0))) end as av,
        |    case when plain then p1
        |         else least(255, greatest(0, floor(p0 - 0.344136e0 * (p1 - 128)
        |           - 0.714136e0 * (p2 - 128) + 0.5e0))) end as bv,
        |    case when plain then p2
        |         else least(255, greatest(0, floor(p0 + 1.772e0 * (p1 - 128) + 0.5e0))) end as cv
        |  from t),
        | rgb as (select doc_id, bw, bh,
        |    floor(av * p3 / 255e0 + 0.5e0) as r,
        |    floor(bv * p3 / 255e0 + 0.5e0) as g,
        |    floor(cv * p3 / 255e0 + 0.5e0) as b
        |  from pre),
        | agg as (select doc_id, bw, bh,
        |    sum(r) * 64 as rs, sum(g) * 64 as gs, sum(b) * 64 as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from rgb group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // HIGH-SAMPLING-FACTOR JPEG decode under the gate (r9 — the
    // factor-3/4 refusal closed): Y sampling 4×1 / 3×1 / 1×4 by id
    // mod 3, per-MCU even chroma constants exact under sample
    // replication — the q61 contract at the full T.81 sampling range.
    // An interleave-order, MCU-geometry or upsample-indexing bug
    // shifts channel sums and breaks the hash.
    QueryDef("q91_sampled_jpeg_decode", { (s, dir) =>
      Multimodal.decodeColorPixels(
          Multimodal.syntheticSampledJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // High-sampling twin: q61's formula with the chroma MCU index
      // generalized — tile (bx,by) reads chroma at (bx÷yh, by÷yvs),
      // exactly what sample replication reconstructs from per-MCU
      // constants at Y sampling yh×yvs
      """with d as (select doc_id,
        |    cast(case doc_id % 3 when 0 then 4 when 1 then 3 else 1 end as bigint) as yh,
        |    cast(case doc_id % 3 when 2 then 4 else 1 end as bigint) as yvs,
        |    doc_id % 2 + 1 as nx, (doc_id // 2) % 2 + 1 as ny
        |  from documents),
        | g as (select doc_id, yh, yvs, yh * nx as bw, yvs * ny as bh from d),
        | t as (select g.doc_id, g.bw, g.bh,
        |    2 * ((x.range + 3 * y.range + g.doc_id) % 128) as yv,
        |    2 * ((2 * (x.range // g.yh) + (y.range // g.yvs) + g.doc_id) % 128) as cbv,
        |    2 * (((x.range // g.yh) + 2 * (y.range // g.yvs) + 3 * g.doc_id) % 128) as crv
        |  from g cross join range(0, 8) x cross join range(0, 8) y
        |  where x.range < g.bw and y.range < g.bh),
        | rgb as (select doc_id, bw, bh,
        |    least(255, greatest(0, floor(yv + 1.402e0 * (crv - 128) + 0.5e0))) as r,
        |    least(255, greatest(0, floor(yv - 0.344136e0 * (cbv - 128)
        |      - 0.714136e0 * (crv - 128) + 0.5e0))) as g,
        |    least(255, greatest(0, floor(yv + 1.772e0 * (cbv - 128) + 0.5e0))) as b
        |  from t),
        | agg as (select doc_id, bw, bh,
        |    sum(r) * 64 as rs, sum(g) * 64 as gs, sum(b) * 64 as bs,
        |    min(r) as rmn, max(r) as rmx, min(g) as gmn, max(g) as gmx,
        |    min(b) as bmn, max(b) as bmx
        |  from rgb group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_pixels,
        |  cast(case when doc_id % 25 = 0 then 0 else rs end as bigint) as r_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else gs end as bigint) as g_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else bs end as bigint) as b_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else rmn end as int) as r_min,
        |  cast(case when doc_id % 25 = 0 then 0 else rmx end as int) as r_max,
        |  cast(case when doc_id % 25 = 0 then 0 else gmn end as int) as g_min,
        |  cast(case when doc_id % 25 = 0 then 0 else gmx end as int) as g_max,
        |  cast(case when doc_id % 25 = 0 then 0 else bmn end as int) as b_min,
        |  cast(case when doc_id % 25 = 0 then 0 else bmx end as int) as b_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // LOSSLESS (SOF3) JPEG decode under the gate (r9 — the lossless
    // refusal closed): predictive Huffman coding with predictor
    // cycling 1–7, precision 8/12/16 and restart intervals, ARBITRARY
    // per-pixel values (lossless needs no even-constant device) — the
    // twin recomputes the pixel formula directly. A predictor,
    // category, mod-2^16 or restart bug corrupts every sample after
    // the first wrong difference and breaks the hash.
    QueryDef("q92_lossless_jpeg_decode", { (s, dir) =>
      Multimodal.decodeLosslessStats(
          Multimodal.syntheticLosslessJpegMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // Lossless twin: decode is EXACT, so the twin is the pixel
      // formula itself — sum/min/max of (5x+11y+7·id) mod 2^prec over
      // the raster, no rounding anywhere
      """with d as (select doc_id,
        |    doc_id % 13 + 2 as w, doc_id % 9 + 2 as h,
        |    cast(case doc_id % 3 when 0 then 8 when 1 then 12 else 16 end as int) as p
        |  from documents),
        | t as (select d.doc_id, d.w, d.h, d.p,
        |    (5 * x.range + 11 * y.range + 7 * d.doc_id) % (1::bigint << p) as v
        |  from d cross join range(0, 15) x cross join range(0, 11) y
        |  where x.range < d.w and y.range < d.h),
        | agg as (select doc_id, w, h, p,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, w, h, p)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else w end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else h end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else 1 end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 0 else p end as int) as bit_depth,
        |  cast(case when doc_id % 25 = 0 then 0 else w * h end as bigint) as n_samples,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as sample_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as sample_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as sample_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // 12-BIT JPEG decode under the gate (r9 — the precision refusal
    // closed): SOF1/12 with q55's DC-lattice contract at the 0–4094
    // range (level shift 2048, DC = (c−2048)/2 integral for even
    // tiles). A level-shift, clamp-range or category-width bug shifts
    // sample sums and breaks the hash.
    QueryDef("q93_12bit_jpeg_decode", { (s, dir) =>
      Multimodal.decode12Stats(
          Multimodal.syntheticJpeg12Media(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // 12-bit twin: q90's lattice shape at modulus 2048 (values
      // 0–4094, exact through the DC-only encode at level shift 2048)
      """with d as (select doc_id,
        |    doc_id % 4 + 1 as bw, doc_id % 3 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + 11 * d.doc_id) % 2048) as v
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else 1 end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 0 else 12 end as int) as bit_depth,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_samples,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as sample_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as sample_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as sample_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // 12-BIT PROGRESSIVE + ARITHMETIC JPEG decode under the gate
    // (r10 — the last non-hierarchical refusals closed): the q93
    // lattice re-encoded as SOF2 (split + single-step), SOF9 and
    // SOF10 frames by id mod 4, all through the shared
    // ProgHuff/ArithScan machinery at DC cap 15. A successive-
    // approximation, QM-conditioning or per-scan-reset bug shifts
    // sample sums and breaks the hash (twin = q93's formula, since
    // the DC-only exactness contract is frame-type-invariant).
    QueryDef("q96_12bit_progarith_jpeg_decode", { (s, dir) =>
      Multimodal.decode12Stats(
          Multimodal.syntheticJpeg12ProgArithMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      // 12-bit progressive/arithmetic twin: identical to q93 — the
      // frame type changes the entropy coding, never the decoded values
      """with d as (select doc_id,
        |    doc_id % 4 + 1 as bw, doc_id % 3 + 1 as bh
        |  from documents),
        | t as (select d.doc_id, d.bw, d.bh,
        |    2 * ((x.range + 3 * y.range + 11 * d.doc_id) % 2048) as v
        |  from d cross join range(0, 4) x cross join range(0, 3) y
        |  where x.range < d.bw and y.range < d.bh),
        | agg as (select doc_id, bw, bh,
        |    sum(v) as s, min(v) as mn, max(v) as mx
        |  from t group by doc_id, bw, bh)
        |select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown' else 'jpeg' end as format,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * 8 end as int) as width,
        |  cast(case when doc_id % 25 = 0 then 0 else bh * 8 end as int) as height,
        |  cast(case when doc_id % 25 = 0 then 0 else 1 end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 0 else 12 end as int) as bit_depth,
        |  cast(case when doc_id % 25 = 0 then 0 else bw * bh * 64 end as bigint) as n_samples,
        |  cast(case when doc_id % 25 = 0 then 0 else s * 64 end as bigint) as sample_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as sample_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as sample_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // REAL WAV sample decode under the gate: 16-bit PCM data written
    // by the mini encoder (RIFF chunk walk, interleaved int16), sample
    // statistics vs the formula twin — a chunk-walk, endianness or
    // sign bug shifts sum/min/max and breaks the hash.
    QueryDef("q53_wav_sample_decode", { (s, dir) =>
      Multimodal.decodeSamples(
          Multimodal.syntheticWavMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      """with d as (select doc_id,
        |    8000 + (doc_id % 5) * 8000 as rate,
        |    doc_id % 2 + 1 as ch,
        |    doc_id % 50 + 10 as n
        |  from documents),
        | sv as (select d.doc_id, d.rate, d.ch,
        |    ((i.range * 31 + c.range * 17 + d.doc_id * 7) % 65536) - 32768 as v
        |  from d cross join range(0, 60) i cross join range(0, 2) c
        |  where i.range < d.n and c.range < d.ch),
        | agg as (select doc_id, rate, ch,
        |    count(*) as cnt, sum(v) as s, min(v) as mn, max(v) as mx
        |  from sv group by doc_id, rate, ch)
        |select doc_id,
        |  cast(case when doc_id % 25 = 0 then 0 else rate end as int) as sample_rate,
        |  cast(case when doc_id % 25 = 0 then 0 else ch end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 0 else cnt end as bigint) as n_samples,
        |  cast(case when doc_id % 25 = 0 then 0 else s end as bigint) as sample_sum,
        |  cast(case when doc_id % 25 = 0 then 0 else mn end as int) as sample_min,
        |  cast(case when doc_id % 25 = 0 then 0 else mx end as int) as sample_max,
        |  (doc_id % 25 <> 0) as valid
        |from agg
        |order by doc_id""".stripMargin),

    // REAL video-frame sampling under the gate: animated-GIF frames
    // (each a full LZW-compressed raster) decoded and sampled at
    // stride 2, per-frame pixel statistics vs the formula twin — the
    // frame fan-out with real payloads instead of the FakeCodec stub.
    QueryDef("q54_video_frame_stats", { (s, dir) =>
      Multimodal.frameStats(
          Multimodal.syntheticVideoMedia(Tables(s, dir, "documents")), stride = 2)
        .toDF()
        .orderBy(col("doc_id"), col("frame_index"))
    },
      """with d as (select doc_id,
        |    (doc_id % 8 + 1) * 2 as w, (doc_id % 6 + 1) * 2 as h,
        |    doc_id % 12 + 2 as nf
        |  from documents
        |  where doc_id % 25 <> 0),
        | fr as (select d.doc_id, d.w, d.h, f.range as fi
        |  from d cross join range(0, 14) f
        |  where f.range < d.nf and f.range % 2 = 0),
        | px as (select fr.doc_id, fr.fi, fr.w, fr.h,
        |    (x.range + y.range + 7 * fr.fi + fr.doc_id) % 256 as v
        |  from fr cross join range(0, 16) x cross join range(0, 12) y
        |  where x.range < fr.w and y.range < fr.h)
        |select doc_id,
        |  cast(fi as int) as frame_index,
        |  cast(w as int) as width,
        |  cast(h as int) as height,
        |  cast(sum(v) as bigint) as pixel_sum,
        |  cast(min(v) as int) as pixel_min,
        |  cast(max(v) as int) as pixel_max
        |from px
        |group by doc_id, fi, w, h
        |order by doc_id, frame_index""".stripMargin),

    // COMPOSITED animation under the gate: partial-update rects at
    // real offsets through the GIF89a canvas model (GCE parse, rect
    // placement, disposal), every emitted frame the full composited
    // screen. The twin evaluates the closed form of "latest update
    // covering quadrant q at frame f" — see syntheticCompositeGifMedia.
    QueryDef("q62_gif_composite_frames", { (s, dir) =>
      Multimodal.frameStats(
          Multimodal.syntheticCompositeGifMedia(Tables(s, dir, "documents")), stride = 1)
        .toDF()
        .orderBy(col("doc_id"), col("frame_index"))
    },
      // Closed-form composite: emitted frame fi's quadrant q (4 per
      // 16×16 screen, 64 px each) shows the latest update frame
      // fi − ((fi−1−q) mod 4) when fi ≥ q+1, else the frame-0 base —
      // the mod never sees a negative because the case shields it
      """with d as (select doc_id,
        |    doc_id % 8 + 2 as nf,
        |    (3 * doc_id) % 256 as base
        |  from documents
        |  where doc_id % 25 <> 0),
        | fr as (select d.doc_id, d.base, f.range as fi
        |  from d cross join range(0, 11) f
        |  where f.range <= d.nf),
        | qv as (select fr.doc_id, fr.fi,
        |    case when fr.fi < q.range + 1 then fr.base
        |         else (7 * (fr.fi - ((fr.fi - 1 - q.range) % 4)) + fr.doc_id) % 256
        |    end as v
        |  from fr cross join range(0, 4) q)
        |select doc_id,
        |  cast(fi as int) as frame_index,
        |  cast(16 as int) as width,
        |  cast(16 as int) as height,
        |  cast(sum(v) * 64 as bigint) as pixel_sum,
        |  cast(min(v) as int) as pixel_min,
        |  cast(max(v) as int) as pixel_max
        |from qv
        |group by doc_id, fi
        |order by doc_id, frame_index""".stripMargin),

    // REAL container-format probing under the gate: minimal valid
    // PNG/JPEG/GIF/WAV files synthesized per doc, headers parsed back
    // by FormatProbe (signature dispatch, SOF walk, RIFF fields); the
    // DuckDB twin derives the expected metadata from doc_id arithmetic
    // — an endianness or offset bug anywhere flips the hash red
    QueryDef("q36_media_probe", { (s, dir) =>
      Multimodal.probeMeta(Multimodal.syntheticRealMedia(Tables(s, dir, "documents")))
        .toDF()
        .orderBy(col("doc_id"))
    },
      """select doc_id,
        |  case when doc_id % 25 = 0 then 'unknown'
        |       when doc_id % 4 = 0 then 'png'
        |       when doc_id % 4 = 1 then 'jpeg'
        |       when doc_id % 4 = 2 then 'gif'
        |       else 'wav' end as format,
        |  cast(case when doc_id % 25 = 0 or doc_id % 4 = 3 then 0
        |       else (doc_id % 64 + 1) * 4 end as int) as width,
        |  cast(case when doc_id % 25 = 0 or doc_id % 4 = 3 then 0
        |       else (doc_id % 48 + 1) * 4 end as int) as height,
        |  cast(case when doc_id % 25 <> 0 and doc_id % 4 = 3
        |       then 8000 + (doc_id % 5) * 8000 else 0 end as int) as sample_rate,
        |  cast(case when doc_id % 25 <> 0 and doc_id % 4 = 3
        |       then (doc_id % 2) + 1 else 0 end as int) as channels,
        |  cast(case when doc_id % 25 = 0 then 6
        |       when doc_id % 4 = 0 then 33
        |       when doc_id % 4 = 1 then 35
        |       when doc_id % 4 = 2 then 14
        |       else 44 + ((doc_id % 2) + 1) * 8 end as int) as byte_size,
        |  (doc_id % 25 <> 0) as valid
        |from documents
        |order by doc_id""".stripMargin),

    // WebDataset SAMPLES under the gate (r11): multi-extension
    // members (one `<key>.txt` + one `<key>.meta` per doc) written
    // key-colocated and key-adjacent by writeMembers, then regrouped
    // into one row per sample by the ZERO-SHUFFLE sorted reader
    // (WebDataset.samples) — the twin re-derives each sample's part
    // count, byte total and both payloads from the documents table.
    QueryDef("q106_webdataset_samples", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q106").getAbsolutePath
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val members = docs.select(col("doc_id").cast(StringType).as("k"),
          lit("txt").as("e"), col("text").cast(BinaryType).as("p"))
        .unionByName(docs.select(col("doc_id").cast(StringType).as("k"),
          lit("meta").as("e"),
          concat(lit("n="), octet_length(col("text"))).cast(BinaryType).as("p")))
      TarShards.writeMembers(members, "k", "e", "p", base, nShards = 8)
      graft.sources.WebDataset.samples(s, base)
        .select(col("key").cast(LongType).as("doc_id"),
          col("n_parts"), col("bytes"),
          octet_length(col("parts").getItem("txt")).as("txt_bytes"),
          col("parts").getItem("meta").cast(StringType).as("meta"))
        .orderBy(col("doc_id"))
    },
      // WebDataset samples twin: part count, byte total and both
      // payloads re-derived per doc (txt = the text bytes, meta =
      // 'n=<byte length>')
      """select doc_id,
        |  2 as n_parts,
        |  cast(octet_length(encode(text))
        |    + octet_length(encode('n=' || cast(octet_length(encode(text)) as varchar))) as bigint) as bytes,
        |  cast(octet_length(encode(text)) as int) as txt_bytes,
        |  'n=' || cast(octet_length(encode(text)) as varchar) as meta
        |from documents
        |order by doc_id""".stripMargin),

    // Incremental media dedup under the gate (r12): the q112 image
    // near-dup semantics through the PERSISTED-INDEX path — even ids
    // build the dHash index, odd ids probe it, and only
    // batch-touching pairs may surface. The twin replays the full
    // q112 banding/cap/distance chain and keeps exactly the pairs
    // touching the batch, so an index write, marker, union-census or
    // batch-restriction bug changes the pair set and breaks the
    // hash.
    QueryDef("q119_incremental_media_dedup", { (s, dir) =>
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"), "graft_q119").getAbsolutePath
      val media = Multimodal.syntheticPixelMedia(Tables(s, dir, "documents"))
      Multimodal.imageHashIndexWrite(media.filter(col("doc_id") % 2 === 0), base)
      Multimodal.incrementalImageNearDuplicates(
          media.filter(col("doc_id") % 2 === 1), base,
          maxDistance = 2, maxBucket = 200)
        .select(col("id_a"), col("id_b"),
          col("distance").cast(LongType).as("distance"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // incremental media dedup twin: the q112 chain (bucket census
      // over ALL signatures — the union the incremental kernel
      // censuses), pairs restricted to those touching the odd-id batch
      s"""$OraclePHashCtes,
        |sig as (select doc_id, y, byte from rb),
        |bucket as (select y, byte from sig
        |  group by y, byte having count(*) >= 2 and count(*) <= 200),
        |cand as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sig a
        |  join bucket k on a.y = k.y and a.byte = k.byte
        |  join sig b on b.y = a.y and b.byte = a.byte and b.doc_id > a.doc_id
        |  where a.doc_id % 2 = 1 or b.doc_id % 2 = 1
        |  group by 1, 2),
        |dist as (select c.id_a, c.id_b,
        |    sum(bit_count(xor(sa.byte, sb.byte))) as distance
        |  from cand c
        |  join sig sa on sa.doc_id = c.id_a
        |  join sig sb on sb.doc_id = c.id_b and sb.y = sa.y
        |  group by 1, 2)
        |select id_a, id_b, cast(distance as bigint) as distance
        |from dist
        |where distance <= 2
        |order by id_a, id_b""".stripMargin),

    // Per-frame video dHash under the gate (r11): the REAL
    // animated-GIF frames (LZW-decoded) each through the shared
    // dHash kernel — the twin replays every frame's 64 bits from
    // the generating formula, so a frame decode, ordering or
    // sampling bug breaks the hash.
    QueryDef("q115_video_phash", { (s, dir) =>
      Multimodal.videoFingerprints(
          Multimodal.syntheticVideoMedia(Tables(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"),
          col("frame_index").cast(LongType).as("frame_index"),
          col("w").cast(LongType).as("w"), col("h").cast(LongType).as("h"),
          col("dhash_hex"))
        .orderBy(col("doc_id"), col("frame_index"))
    },
      // video-phash twin: q111's byte chain with a frame axis — the
      // animated gradient formula per frame, same sampling floors and
      // packing
      """with d as (select doc_id,
        |    ((doc_id % 8) + 1) * 2 as w, ((doc_id % 6) + 1) * 2 as h,
        |    (doc_id % 12) + 2 as nf
        |  from documents where doc_id % 25 <> 0),
        |fr as (select d.doc_id, d.w, d.h, f.f
        |  from d cross join range(0, 14) f(f) where f.f < d.nf),
        |g as (select fr.doc_id, fr.f, fr.w, fr.h, y.y, x.x,
        |    ((x.x * fr.w) // 9 + (y.y * fr.h) // 8 + 7 * fr.f + fr.doc_id) % 256 as t
        |  from fr cross join range(0, 8) y(y) cross join range(0, 9) x(x)),
        |b as (select a.doc_id, a.f, a.w, a.h, a.y, a.x,
        |    case when n.t > a.t then 1 else 0 end as bit
        |  from g a join g n on n.doc_id = a.doc_id and n.f = a.f
        |    and n.y = a.y and n.x = a.x + 1
        |  where a.x < 8),
        |rb as (select doc_id, f, w, h, y,
        |    cast(sum(bit * (1 << (7 - x))) as int) as byte
        |  from b group by doc_id, f, w, h, y),
        |hx as (select doc_id, f, w, h,
        |    string_agg(printf('%02x', byte), '' order by y) as dhash_hex
        |  from rb group by doc_id, f, w, h)
        |select doc_id, cast(f as bigint) as frame_index,
        |  cast(w as bigint) as w, cast(h as bigint) as h, dhash_hex
        |from hx
        |order by doc_id, frame_index""".stripMargin),

    // Audio fingerprint under the gate (r11): the energy-difference
    // hash of the ACTUALLY-DECODED PCM streams (65 equal windows,
    // exact Long energies, adjacent-comparison bits, MSB-first
    // packing) — the twin recomputes every sample from the
    // generating formula and replays windowing, energy sums and
    // packing, so a decode, window-boundary or energy bug breaks
    // the hash.
    QueryDef("q114_audio_fingerprint", { (s, dir) =>
      Multimodal.audioFingerprint(
          Multimodal.syntheticWavMedia(Tables(s, dir, "documents")))
        .toDF()
        .filter(col("valid"))
        .select(col("doc_id"),
          col("sample_rate").cast(LongType).as("sample_rate"),
          col("channels").cast(LongType).as("channels"),
          col("n_samples"), col("ehash_hex"))
        .orderBy(col("doc_id"))
    },
      // audio-fingerprint twin: samples from the generating formula,
      // the same j·65/n window floor, exact integer energies, and the
      // q111-style byte packing
      """with d as (select doc_id, (doc_id % 2) + 1 as ch, (doc_id % 50) + 10 as nf
        |  from documents where doc_id % 25 <> 0),
        |s as (select d.doc_id, d.nf * d.ch as n, j.j,
        |    ((j.j // d.ch) * 31 + (j.j % d.ch) * 17 + d.doc_id * 7) % 65536 - 32768 as v
        |  from d cross join range(0, 120) j(j) where j.j < d.nf * d.ch),
        |e0 as (select doc_id, n, (j * 65) // n as w, sum(v * v) as e
        |  from s group by 1, 2, 3),
        |win as (select d2.doc_id, d2.n, w.w, coalesce(e0.e, 0) as e
        |  from (select distinct doc_id, n from s) d2
        |  cross join range(0, 65) w(w)
        |  left join e0 on e0.doc_id = d2.doc_id and e0.w = w.w),
        |b as (select a.doc_id, a.n, a.w as i,
        |    case when nx.e > a.e then 1 else 0 end as bit
        |  from win a join win nx on nx.doc_id = a.doc_id and nx.w = a.w + 1
        |  where a.w < 64),
        |rb as (select doc_id, n, i // 8 as y,
        |    cast(sum(bit * (1 << (7 - (i % 8)))) as int) as byte
        |  from b group by 1, 2, 3),
        |hx as (select doc_id, n,
        |    string_agg(printf('%02x', byte), '' order by y) as ehash_hex
        |  from rb group by 1, 2)
        |select doc_id,
        |  cast(8000 + (doc_id % 5) * 8000 as bigint) as sample_rate,
        |  cast((doc_id % 2) + 1 as bigint) as channels,
        |  cast(n as bigint) as n_samples,
        |  ehash_hex
        |from hx
        |order by doc_id""".stripMargin),

    // Image dHash under the gate (r11): the perceptual fingerprint
    // of the ACTUALLY-DECODED PNG/BMP rasters (9×8 nearest-neighbor
    // thumbnail, adjacent-pixel comparison bits, MSB-first row
    // packing) — the twin recomputes all 64 bits from the generating
    // gradient formula, so a decode, sampling, comparison or packing
    // bug flips hex characters and breaks the hash. Gated on the hex
    // rendering (a signed 64-bit crosses engines awkwardly).
    QueryDef("q111_image_phash", { (s, dir) =>
      Multimodal.perceptualHash(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")))
        .toDF()
        .filter(col("valid"))
        .select(col("doc_id"), col("fmt"),
          col("w").cast(LongType).as("w"), col("h").cast(LongType).as("h"),
          col("dhash_hex"))
        .orderBy(col("doc_id"))
    },
      // dHash twin: the shared per-row-byte chain, hex-rendered in row
      // order (the hash's MSB-first packing makes hex = row bytes)
      s"""$OraclePHashCtes,
        |hx as (select doc_id, w, h,
        |    string_agg(printf('%02x', byte), '' order by y) as dhash_hex
        |  from rb group by doc_id, w, h)
        |select doc_id,
        |  case when doc_id % 2 = 0 then 'png' else 'bmp' end as fmt,
        |  cast(w as bigint) as w, cast(h as bigint) as h, dhash_hex
        |from hx
        |order by doc_id""".stripMargin),

    // Image near-dup pairs under the gate (r11): the dHash
    // signatures through the SAME banded hamming kernel as the text
    // SimHash path (byte bands, degenerate-bucket cap, exact
    // popcount verify) — the twin replays banding, bucket cap and
    // distance byte-by-byte, so a band split, cap or verify bug
    // changes the pair set and breaks the hash.
    // (gate runs tighter than the operator defaults — the gradient
    // fixtures are far more hash-correlated than real images, and
    // distance ≤ 2 with a 200-cap keeps the pair table
    // gate-sized at sf0.1 while still exercising banding, cap and
    // verify; bands=8 keeps pigeonhole exact for d ≤ 7 regardless)
    QueryDef("q112_image_near_dup", { (s, dir) =>
      Multimodal.imageNearDuplicates(
          Multimodal.syntheticPixelMedia(Tables(s, dir, "documents")),
          maxDistance = 2, maxBucket = 200)
        .select(col("id_a"), col("id_b"),
          col("distance").cast(LongType).as("distance"))
        .orderBy(col("id_a"), col("id_b"))
    },
      // image near-dup twin: band = row byte (a relabeling of the
      // 8-bit chunks), same ≥2/≤1000 bucket cap, distinct candidate
      // pairs, distance = Σ per-row popcount of xor
      s"""$OraclePHashCtes,
        |sig as (select doc_id, y, byte from rb),
        |bucket as (select y, byte from sig
        |  group by y, byte having count(*) >= 2 and count(*) <= 200),
        |cand as (select a.doc_id as id_a, b.doc_id as id_b
        |  from sig a
        |  join bucket k on a.y = k.y and a.byte = k.byte
        |  join sig b on b.y = a.y and b.byte = a.byte and b.doc_id > a.doc_id
        |  group by 1, 2),
        |dist as (select c.id_a, c.id_b,
        |    sum(bit_count(xor(sa.byte, sb.byte))) as distance
        |  from cand c
        |  join sig sa on sa.doc_id = c.id_a
        |  join sig sb on sb.doc_id = c.id_b and sb.y = sa.y
        |  group by 1, 2)
        |select id_a, id_b, cast(distance as bigint) as distance
        |from dist
        |where distance <= 2
        |order by id_a, id_b""".stripMargin)
  )

  /** q111/q112's dHash derivation, down to the per-row thumbnail
    * bytes `rb(doc_id, w, h, y, byte)` — the full decode+sample+
    * compare+pack pipeline replayed from the generating gradient
    * formula (corrupt every-25th payloads excluded, as
    * `valid=false` rows are on the Spark side). */
  private val OraclePHashCtes =
    """with d as (select doc_id,
      |    ((doc_id % 16) + 1) * 2 as w, ((doc_id % 12) + 1) * 2 as h
      |  from documents where doc_id % 25 <> 0),
      |g as (select d.doc_id, d.w, d.h, y.y, x.x,
      |    ((x.x * d.w) // 9 + (y.y * d.h) // 8 + d.doc_id) % 256 as t
      |  from d, range(0, 8) y(y), range(0, 9) x(x)),
      |b as (select a.doc_id, a.w, a.h, a.y, a.x,
      |    case when n.t > a.t then 1 else 0 end as bit
      |  from g a join g n on n.doc_id = a.doc_id and n.y = a.y and n.x = a.x + 1
      |  where a.x < 8),
      |rb as (select doc_id, w, h, y,
      |    cast(sum(bit * (1 << (7 - x))) as int) as byte
      |  from b group by doc_id, w, h, y)""".stripMargin
}
