package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AudioFeatures, Freeze, MediaCodec, Multimodal}
import graft.queries.DedupGates.mix

/** Multimodal media: image, audio and video decoding, features,
  * fingerprints and caption pairing.
  */
object MultimodalGates {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  private def media(spark: SparkSession, dir: String): DataFrame =
    Multimodal.syntheticMedia(Tables.load(spark, dir, "documents"))

  /** Binary column handling: payload length, content hash, modality
    * dispatch, metadata resize transform — everything except the decode
    * itself, oracled byte-for-byte.
    */
  val mm_media_meta = OpQuery(
    "mm_media_meta",
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |  CAST(octet_length(encode(text)) AS INT) AS payload_bytes,
      |  md5(text) AS payload_md5,
      |  CAST(doc_id % 640 + 1 AS INT) AS width,
      |  CAST(doc_id % 480 + 1 AS INT) AS height,
      |  CAST(CEIL((doc_id % 640 + 1) * LEAST(1.0, 256.0 / GREATEST(doc_id % 640 + 1, doc_id % 480 + 1))) AS INT) AS resized_width,
      |  CAST(CEIL((doc_id % 480 + 1) * LEAST(1.0, 256.0 / GREATEST(doc_id % 640 + 1, doc_id % 480 + 1))) AS INT) AS resized_height
      |FROM documents
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    val m = media(spark, dir)
    val resized = Multimodal.resizeMeta(m, maxDim = 256)
      .select(col("media_id"), col("meta.width").as("resized_width"),
        col("meta.height").as("resized_height"))
    m.select(
        col("media_id"), col("modality"),
        length(col("payload")).as("payload_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("meta.width").as("width"),
        col("meta.height").as("height"))
      .join(resized, "media_id")
      .orderBy(col("media_id"))
  }

  /** Frame sampling: explode per-video frame indices, keep every 5th —
    * pure relational plumbing over the meta column.
    */
  val mm_frame_sample = OpQuery(
    "mm_frame_sample",
    """SELECT doc_id AS media_id, CAST(f.frame_idx AS INT) AS frame_idx
      |FROM documents, unnest(generate_series(0, CAST(doc_id % 50 AS INT))) AS f(frame_idx)
      |WHERE doc_id % 3 = 2 AND f.frame_idx % 5 = 0
      |ORDER BY media_id, frame_idx""".stripMargin) { (spark, dir) =>
    Multimodal.frameSample(media(spark, dir), everyNth = 5)
      .orderBy(col("media_id"), col("frame_idx"))
  }

  /** Batched feature extraction through mapPartitions with the stubbed
    * decoder. The stub is md5-derived, so the oracle replicates it in
    * SQL (first md5 byte via hex cast) — the gate hash-checks the whole
    * mapPartitions/decode/schema path, not just row counts; the full
    * 8-feature vector stays pinned in MultimodalSpec.
    */
  val mm_features = OpQuery(
    "mm_features",
    """SELECT doc_id AS media_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |  CAST(ROUND((CAST(('0x' || substr(md5(text), 1, 2)) AS INT) * 31
      |       + octet_length(encode(text)) % 97) / 255.0, 6) AS DOUBLE) AS f0,
      |  CAST(8 AS INT) AS n_features
      |FROM documents
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    Multimodal.extractFeatures(media(spark, dir), k = 8)
      .select(col("media_id"), col("modality"),
        round(element_at(col("features"), 1), 6).as("f0"),
        size(col("features")).as("n_features"))
      .orderBy(col("media_id"))
  }

  /** Audio windowing over the multimodal table (200 ms windows, 100 ms
    * hop) — see [[Multimodal.audioWindows]]. The oracle replays the
    * framing arithmetic relationally; the Spark side exercises the
    * binary payload → duration → explode plumbing.
    */
  val mm_audio_windows = OpQuery(
    "mm_audio_windows",
    """WITH audio AS (
      |  SELECT doc_id AS media_id,
      |         (octet_length(encode(text)) * 1000) // (16000 * 2) AS duration_ms
      |  FROM documents WHERE doc_id % 3 = 1),
      |eligible AS (SELECT * FROM audio WHERE duration_ms >= 4)
      |SELECT media_id, CAST(w.win_idx AS INT) AS win_idx,
      |       CAST(w.win_idx * 2 AS BIGINT) AS start_ms,
      |       CAST(w.win_idx * 2 + 4 AS BIGINT) AS end_ms
      |FROM eligible, unnest(generate_series(0, (duration_ms - 4) // 2)) AS w(win_idx)
      |ORDER BY media_id, win_idx""".stripMargin) { (spark, dir) =>
    val media = Multimodal.syntheticMedia(Tables.load(spark, dir, "documents"))
    Multimodal.audioWindows(media, winMs = 4, hopMs = 2)
      .select("media_id", "win_idx", "start_ms", "end_ms")
      .orderBy("media_id", "win_idx")
  }

  /** Image tiling: per-image grid of 64×64 tiles from the stored
    * dimensions (ceil division), exploded to one row per tile with its
    * pixel offsets — the patching step in front of every vision encoder.
    * Map-only sequence explode, mirroring the audio-window operator on
    * the image modality.
    */
  val mm_image_tiles = OpQuery(
    "mm_image_tiles",
    """WITH images AS (
      |  SELECT doc_id AS media_id,
      |         CAST(doc_id % 640 + 1 AS INT) AS w,
      |         CAST(doc_id % 480 + 1 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |grid AS (
      |  SELECT media_id, w, h,
      |         (w + 63) // 64 AS n_cols, (h + 63) // 64 AS n_rows
      |  FROM images)
      |SELECT media_id, CAST(t.tile AS INT) AS tile_idx,
      |       CAST((t.tile % n_cols) * 64 AS INT) AS x0,
      |       CAST((t.tile // n_cols) * 64 AS INT) AS y0,
      |       CAST(least((t.tile % n_cols) * 64 + 64, w) AS INT) AS x1,
      |       CAST(least((t.tile // n_cols) * 64 + 64, h) AS INT) AS y1
      |FROM grid, unnest(generate_series(0, n_cols * n_rows - 1)) AS t(tile)
      |ORDER BY media_id, tile_idx""".stripMargin) { (spark, dir) =>
    Tables.load(spark, dir, "documents").createOrReplaceTempView("graft_tile_docs")
    spark.sql(
      """WITH images AS (
        |  SELECT doc_id AS media_id,
        |         CAST(doc_id % 640 + 1 AS INT) AS w,
        |         CAST(doc_id % 480 + 1 AS INT) AS h
        |  FROM graft_tile_docs WHERE doc_id % 3 = 0),
        |grid AS (
        |  SELECT media_id, w, h,
        |         CAST((w + 63) / 64 AS INT) AS n_cols, CAST((h + 63) / 64 AS INT) AS n_rows
        |  FROM images)
        |SELECT media_id, CAST(t.tile AS INT) AS tile_idx,
        |       CAST((t.tile % n_cols) * 64 AS INT) AS x0,
        |       CAST((t.tile DIV n_cols) * 64 AS INT) AS y0,
        |       CAST(least((t.tile % n_cols) * 64 + 64, w) AS INT) AS x1,
        |       CAST(least((t.tile DIV n_cols) * 64 + 64, h) AS INT) AS y1
        |FROM grid LATERAL VIEW explode(sequence(0, n_cols * n_rows - 1)) t AS tile
        |ORDER BY media_id, tile_idx""".stripMargin)
  }

  /** Image-caption pair manifest: media assets joined back to their
    * caption text with quality filters — the contrastive-pair
    * (CLIP-style) assembly step. The pair fingerprint hash-pins the
    * exact (image, caption) binding, not just the counts.
    */
  val mm_caption_pairs = OpQuery.sql("mm_caption_pairs", "documents")(
    """SELECT doc_id AS media_id,
      |       CAST(n_chars AS BIGINT) AS caption_len,
      |       md5(concat(CAST(doc_id AS VARCHAR), '|', text)) AS pair_fingerprint
      |FROM documents
      |WHERE doc_id % 3 = 0 AND n_chars BETWEEN 100 AND 400 AND lang = 'en'
      |ORDER BY media_id""".stripMargin,
    "VARCHAR" -> "STRING")

  /** Modality mix card: assets / bytes / mean frame counts per
    * modality over the multimodal table — the storage-planning view of
    * a mixed corpus.
    */
  val mm_modality_mix = OpQuery(
    "mm_modality_mix",
    """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |       CAST(COUNT(*) AS BIGINT) AS assets,
      |       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS payload_bytes,
      |       CAST(SUM(doc_id % 50 + 1) AS BIGINT) AS total_frames
      |FROM documents
      |GROUP BY 1
      |ORDER BY modality""".stripMargin) { (spark, dir) =>
    Multimodal.syntheticMedia(Tables.load(spark, dir, "documents"))
      .groupBy(col("modality"))
      .agg(
        count(lit(1)).cast("long").as("assets"),
        sum(length(col("payload"))).cast("long").as("payload_bytes"),
        sum(col("meta.n_frames")).cast("long").as("total_frames"))
      .orderBy("modality")
  }

  /** REAL audio decode end-to-end: per document, synthesize a PCM16
    * mono WAV (deterministic sawtooth-ish formula in doc_id), run it
    * through [[graft.operators.MediaCodec.decodeWav]] — a genuine RIFF
    * chunk-walk parser — and emit integer sample aggregates. The oracle
    * replays the GENERATOR formula in SQL over generate_series, so the
    * gate hash-matches iff header layout, little-endian int16 decode,
    * and sample order are all exactly right. This is the round-6 flip
    * of the decode seam from stub to real (WAV leg).
    */
  val mm_wav_decode = OpQuery(
    "mm_wav_decode",
    """WITH g AS (
      |  SELECT doc_id,
      |         8000 + CAST(doc_id % 5 AS INT) * 1000 AS rate,
      |         50 + CAST(doc_id % 101 AS INT) AS n
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, rate, n,
      |         (doc_id * 31 + i.i * 17) % 4093 - 2046 AS v
      |  FROM g, LATERAL unnest(generate_series(0, n - 1)) AS i(i))
      |SELECT doc_id AS media_id,
      |       CAST(MAX(rate) AS INT) AS sample_rate,
      |       CAST(COUNT(*) AS INT) AS n_samples,
      |       CAST(SUM(v) AS BIGINT) AS s_sum,
      |       CAST(MIN(v) AS INT) AS s_min,
      |       CAST(MAX(v) AS INT) AS s_max,
      |       CAST(SUM(ABS(v)) AS BIGINT) AS s_abs
      |FROM s GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.MediaCodec
    t(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val rate = 8000 + (d % 5).toInt * 1000
        val n = 50 + (d % 101).toInt
        val samples = Array.tabulate(n)(i => ((d * 31 + i * 17) % 4093 - 2046).toShort)
        (d, MediaCodec.encodeWavPcm16(rate, samples))
      })
      .map { case (d, payload) =>
        val wav = MediaCodec.decodeWav(payload) // the real parser under test
        val s = wav.samples
        (d, wav.sampleRate, s.length,
          s.foldLeft(0L)(_ + _), s.min.toInt, s.max.toInt,
          s.foldLeft(0L)((a, x) => a + math.abs(x.toLong)))
      }
      .toDF("media_id", "sample_rate", "n_samples", "s_sum", "s_min", "s_max", "s_abs")
      .orderBy(col("media_id"))
  }

  /** REAL image decode end-to-end, both raster formats: even doc_ids
    * become 24bpp bottom-up BMPs (row padding, BGR byte order), odd
    * ones binary P6 PPMs (text header); both decode through
    * [[graft.operators.MediaCodec]] to the same pixel grid, so ONE
    * SQL replay oracles both container formats — any padding,
    * row-order, or channel-order slip in either codec hash-fails.
    */
  val mm_bmp_decode = OpQuery(
    "mm_bmp_decode",
    """WITH g AS (
      |  SELECT doc_id,
      |         3 + CAST(doc_id % 13 AS INT) AS w,
      |         2 + CAST(doc_id % 7 AS INT) AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h,
      |         (doc_id + 3 * x.x + 7 * y.y) % 256 AS r,
      |         (2 * doc_id + 5 * x.x + y.y) % 256 AS gg,
      |         (x.x * y.y + doc_id) % 256 AS b
      |  FROM g,
      |       LATERAL unnest(generate_series(0, w - 1)) AS x(x),
      |       LATERAL unnest(generate_series(0, h - 1)) AS y(y))
      |SELECT doc_id AS media_id,
      |       CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS container,
      |       CAST(MAX(w) AS INT) AS width,
      |       CAST(MAX(h) AS INT) AS height,
      |       CAST(SUM(r) AS BIGINT) AS sum_r,
      |       CAST(SUM(gg) AS BIGINT) AS sum_g,
      |       CAST(SUM(b) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.MediaCodec
    t(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val w = 3 + (d % 13).toInt
        val h = 2 + (d % 7).toInt
        def pixel(x: Int, y: Int): Int = {
          val r = ((d + 3 * x + 7 * y) % 256).toInt
          val g = ((2 * d + 5 * x + y) % 256).toInt
          val b = ((x.toLong * y + d) % 256).toInt
          (r << 16) | (g << 8) | b
        }
        val payload =
          if (d % 2 == 0) MediaCodec.encodeBmp24(w, h, pixel)
          else MediaCodec.encodePpm(w, h, pixel)
        (d, if (d % 2 == 0) "bmp" else "ppm", payload)
      })
      .map { case (d, container, payload) =>
        val img = // the real parsers under test
          if (container == "bmp") MediaCodec.decodeBmp(payload)
          else MediaCodec.decodePpm(payload)
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < img.rgb.length) {
          sr += img.r(i); sg += img.g(i); sb += img.b(i); i += 1
        }
        (d, container, img.width, img.height, sr, sg, sb)
      }
      .toDF("media_id", "container", "width", "height", "sum_r", "sum_g", "sum_b")
      .orderBy(col("media_id"))
  }

  /** REAL video decode end-to-end: synthesize an uncompressed-DIB AVI
    * per document (RIFF hdrl/strl/movi tree, bottom-up padded frames),
    * decode through [[graft.operators.MediaCodec.decodeAvi]], and emit
    * per-video frame/pixel aggregates — every-2nd-frame SAMPLED sums,
    * so the gate also exercises decode-then-frame-sample composition.
    * Oracle replays the generator over a triple generate_series. With
    * this, all three modalities decode for real.
    */
  val mm_avi_decode = OpQuery(
    "mm_avi_decode",
    """WITH g AS (
      |  SELECT doc_id,
      |         3 + CAST(doc_id % 9 AS INT) AS w,
      |         2 + CAST(doc_id % 5 AS INT) AS h,
      |         1 + CAST(doc_id % 7 AS INT) AS nf
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, nf, f.f AS f,
      |         (doc_id + f.f + x.x) % 256 AS r,
      |         (doc_id * 2 + f.f * 2 + y.y * 3) % 256 AS gg,
      |         (f.f * x.x + y.y + doc_id) % 256 AS b
      |  FROM g,
      |       LATERAL unnest(generate_series(0, nf - 1)) AS f(f),
      |       LATERAL unnest(generate_series(0, w - 1)) AS x(x),
      |       LATERAL unnest(generate_series(0, h - 1)) AS y(y)
      |  WHERE f.f % 2 = 0)
      |SELECT doc_id AS media_id,
      |       CAST(MAX(w) AS INT) AS width,
      |       CAST(MAX(h) AS INT) AS height,
      |       CAST(MAX(nf) AS INT) AS n_frames,
      |       CAST(COUNT(DISTINCT f) AS INT) AS n_sampled,
      |       CAST(SUM(r) AS BIGINT) AS sum_r,
      |       CAST(SUM(gg) AS BIGINT) AS sum_g,
      |       CAST(SUM(b) AS BIGINT) AS sum_b
      |FROM px
      |GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.MediaCodec
    t(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val w = 3 + (d % 9).toInt
        val h = 2 + (d % 5).toInt
        val nf = 1 + (d % 7).toInt
        val payload = MediaCodec.encodeAvi(w, h, nf, 40000, (f, x, y) => {
          val r = ((d + f + x) % 256).toInt
          val g = ((d * 2 + f * 2 + y * 3) % 256).toInt
          val b = ((f.toLong * x + y + d) % 256).toInt
          (r << 16) | (g << 8) | b
        })
        (d, payload)
      })
      .map { case (d, payload) =>
        val avi = MediaCodec.decodeAvi(payload) // the real parser under test
        // decode-then-sample: keep every 2nd frame
        val sampled = avi.frames.zipWithIndex.collect { case (fr, i) if i % 2 == 0 => fr }
        var sr = 0L; var sg = 0L; var sb = 0L
        sampled.foreach { fr =>
          var i = 0
          while (i < fr.rgb.length) { sr += fr.r(i); sg += fr.g(i); sb += fr.b(i); i += 1 }
        }
        (d, avi.width, avi.height, avi.frames.length, sampled.length, sr, sg, sb)
      }
      .toDF("media_id", "width", "height", "n_frames", "n_sampled",
        "sum_r", "sum_g", "sum_b")
      .orderBy(col("media_id"))
  }

  val mm_png_decode = OpQuery(
    "mm_png_decode",
    """WITH g AS (
      |  SELECT doc_id,
      |         4 + CAST(doc_id % 11 AS INT) AS w,
      |         3 + CAST(doc_id % 5 AS INT) AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h,
      |         (7 * doc_id + 5 * x.x + 3 * y.y) % 256 AS r,
      |         (doc_id + 11 * x.x + 2 * y.y) % 256 AS gg,
      |         (3 * x.x * y.y + 2 * doc_id) % 256 AS b
      |  FROM g,
      |       LATERAL unnest(generate_series(0, w - 1)) AS x(x),
      |       LATERAL unnest(generate_series(0, h - 1)) AS y(y))
      |SELECT doc_id AS media_id,
      |       CAST(MAX(w) AS INT) AS width,
      |       CAST(MAX(h) AS INT) AS height,
      |       CAST(SUM(r) AS BIGINT) AS sum_r,
      |       CAST(SUM(gg) AS BIGINT) AS sum_g,
      |       CAST(SUM(b) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.MediaCodec
    t(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val w = 4 + (d % 11).toInt
        val h = 3 + (d % 5).toInt
        def pixel(x: Int, y: Int): Int = {
          val r = ((7 * d + 5 * x + 3 * y) % 256).toInt
          val g = ((d + 11 * x + 2 * y) % 256).toInt
          val b = ((3L * x * y + 2 * d) % 256).toInt
          (r << 16) | (g << 8) | b
        }
        (d, MediaCodec.encodePng(w, h, pixel))
      })
      .map { case (d, payload) =>
        val img = MediaCodec.decodePng(payload) // the real parser under test
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < img.rgb.length) {
          sr += img.r(i); sg += img.g(i); sb += img.b(i); i += 1
        }
        (d, img.width, img.height, sr, sg, sb)
      }
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
      .orderBy(col("media_id"))
  }

  /** GIF87a decode through REAL variable-width LZW — the second
    * compressed family next to PNG's DEFLATE (dictionary coding vs
    * LZ77+Huffman). Per-document GIFs are synthesized with a formulaic
    * 64-color palette, decoded back through
    * [[graft.operators.MediaCodec.decodeGif]], and the oracle replays
    * palette + index formulas over generate_series — a slip in the
    * LSB-first bit unpacking, code-width growth, dictionary reset, or
    * palette resolution hash-fails.
    */
  val mm_gif_decode = OpQuery(
    "mm_gif_decode",
    """WITH g AS (
      |  SELECT doc_id,
      |         4 + CAST(doc_id % 13 AS INT) AS w,
      |         3 + CAST(doc_id % 7 AS INT) AS h
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, w, h, (doc_id + 3 * x.x + 5 * y.y) % 64 AS i
      |  FROM g,
      |       LATERAL unnest(generate_series(0, w - 1)) AS x(x),
      |       LATERAL unnest(generate_series(0, h - 1)) AS y(y))
      |SELECT doc_id AS media_id,
      |       CAST(MAX(w) AS INT) AS width,
      |       CAST(MAX(h) AS INT) AS height,
      |       CAST(SUM((7 * i) % 256) AS BIGINT) AS sum_r,
      |       CAST(SUM((11 * i) % 256) AS BIGINT) AS sum_g,
      |       CAST(SUM((5 * i + 3) % 256) AS BIGINT) AS sum_b
      |FROM px GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.MediaCodec
    val palette = Array.tabulate(64)(i =>
      (((7 * i) % 256) << 16) | (((11 * i) % 256) << 8) | ((5 * i + 3) % 256))
    Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val w = 4 + (d % 13).toInt
        val h = 3 + (d % 7).toInt
        (d, MediaCodec.encodeGif(w, h, palette,
          (x, y) => ((d + 3 * x + 5 * y) % 64).toInt))
      })
      .map { case (d, payload) =>
        val img = MediaCodec.decodeGif(payload) // the real LZW under test
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < img.rgb.length) {
          sr += img.r(i); sg += img.g(i); sb += img.b(i); i += 1
        }
        (d, img.width, img.height, sr, sg, sb)
      }
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
      .orderBy(col("media_id"))
  }

  private def wavs(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    import spark.implicits._
    Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val rate = 8000 + (d % 5).toInt * 1000
        val n = 50 + (d % 101).toInt
        val samples = Array.tabulate(n)(i =>
          ((d * 31 + i * 17) % 4093 - 2046).toShort)
        (d, MediaCodec.encodeWavPcm16(rate, samples))
      })
      .toDF("media_id", "wav")
  }

  val mm_audio_wht = OpQuery(
    "mm_audio_wht",
    """WITH g AS (
      |  SELECT doc_id, 50 + CAST(doc_id % 101 AS INT) AS n
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, i.i // 64 AS f, i.i % 64 AS t,
      |         (doc_id * 31 + i.i * 17) % 4093 - 2046 AS v
      |  FROM g, unnest(generate_series(0, (n // 64) * 64 - 1)) AS i(i)
      |), wht AS (
      |  SELECT s.doc_id, s.f, j.j,
      |         SUM(CASE WHEN bit_count(j.j & s.t) % 2 = 0 THEN s.v ELSE -s.v END) AS hj
      |  FROM s, unnest(generate_series(0, 63)) AS j(j)
      |  GROUP BY s.doc_id, s.f, j.j
      |), bands AS (
      |  SELECT doc_id,
      |         SUM(CASE WHEN j = 0 THEN ABS(hj) ELSE 0 END) AS wht_dc,
      |         SUM(CASE WHEN j BETWEEN 1 AND 7 THEN ABS(hj) ELSE 0 END) AS wht_low,
      |         SUM(CASE WHEN j >= 32 THEN ABS(hj) ELSE 0 END) AS wht_high
      |  FROM wht GROUP BY doc_id
      |), feat AS (
      |  SELECT doc_id, f,
      |         SUM(v * v) AS sum_sq,
      |         MAX(ABS(v)) AS peak,
      |         SUM(CASE WHEN v * lag_v < 0 THEN 1 ELSE 0 END) AS zc
      |  FROM (SELECT *, LAG(v) OVER (PARTITION BY doc_id, f ORDER BY t) AS lag_v FROM s)
      |  GROUP BY doc_id, f
      |), agg AS (
      |  SELECT doc_id, COUNT(*) AS n_frames, SUM(sum_sq) AS sum_sq,
      |         SUM(zc) AS zero_cross, SUM(peak) AS peak_sum
      |  FROM feat GROUP BY doc_id
      |)
      |SELECT a.doc_id AS media_id,
      |       CAST(a.n_frames AS INT) AS n_frames,
      |       CAST(a.sum_sq AS BIGINT) AS sum_sq,
      |       CAST(a.zero_cross AS BIGINT) AS zero_cross,
      |       CAST(a.peak_sum AS BIGINT) AS peak_sum,
      |       CAST(b.wht_dc AS BIGINT) AS wht_dc,
      |       CAST(b.wht_low AS BIGINT) AS wht_low,
      |       CAST(b.wht_high AS BIGINT) AS wht_high
      |FROM agg a JOIN bands b USING (doc_id)
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    AudioFeatures.frameFeatures(wavs(spark, dir), "media_id", "wav", 64)
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).cast("int").as("n_frames"),
        sum(col("sum_sq")).cast("long").as("sum_sq"),
        sum(col("zero_cross")).cast("long").as("zero_cross"),
        sum(col("peak")).cast("long").as("peak_sum"),
        sum(col("wht_dc")).cast("long").as("wht_dc"),
        sum(col("wht_low")).cast("long").as("wht_low"),
        sum(col("wht_high")).cast("long").as("wht_high"))
      .orderBy(col("media_id"))
  }

  /** Rows-only: the FFT path's gate. Float magnitudes can't hash-match
    * across engines (libm ulps); the exact-integer twin above pins the
    * shared decode/framing, and AudioFeaturesSpec pins the FFT math
    * (Parseval vs the twin's sum_sq, impulse, pure-tone peak bin).
    */
  val mm_audio_spectrogram = OpQuery.noOracle("mm_audio_spectrogram") {
    (spark, dir) =>
      val spec = AudioFeatures.spectrogram(wavs(spark, dir), "media_id", "wav", 64)
      val perBin = spec
        .groupBy(col("media_id"), col("bin"))
        .agg(sum(col("magnitude")).as("mag"),
          countDistinct(col("frame_idx")).as("nf"))
      val w = Window.partitionBy(col("media_id"))
        .orderBy(col("mag").desc, col("bin").asc)
      perBin
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("media_id"), col("bin").as("peak_bin"),
          col("nf").cast("int").as("n_frames"))
        .orderBy(col("media_id"))
  }

  /** Baseline JPEG decode through the REAL pipeline — marker parse,
    * canonical Huffman, DC prediction, dequantize, IDCT, color convert
    * ([[graft.operators.JpegCodec]]). JPEG is lossy, so the oracle
    * fixture is chosen to survive EXACTLY: grayscale images built of
    * constant 8x8 blocks whose levels are ≡ 2 (mod 3) — at quality 90
    * the luma DC quant step is 3 and the DC coefficient 8·(v−128) is a
    * multiple of it, chroma is identically 128 (zero coefficients), so
    * every block reconstructs bit-exactly and DuckDB replays the block
    * formula. DC prediction is genuinely exercised (levels differ per
    * block); full-frequency AC content is pinned by error bounds in
    * MultimodalSpec instead (float IDCT isn't SQL-replayable).
    */
  val mm_jpeg_decode = OpQuery(
    "mm_jpeg_decode",
    """WITH g AS (
      |  SELECT doc_id,
      |         8 * (1 + CAST(doc_id % 3 AS INT)) AS w,
      |         8 * (1 + CAST(doc_id % 2 AS INT)) AS h
      |  FROM documents),
      |blocks AS (
      |  SELECT doc_id, w, h,
      |         2 + 3 * CAST((doc_id + bx.bx + 2 * by.by) % 85 AS INT) AS v
      |  FROM g,
      |       LATERAL unnest(generate_series(0, w // 8 - 1)) AS bx(bx),
      |       LATERAL unnest(generate_series(0, h // 8 - 1)) AS by(by))
      |SELECT doc_id AS media_id,
      |       CAST(MAX(w) AS INT) AS width,
      |       CAST(MAX(h) AS INT) AS height,
      |       CAST(SUM(64 * v) AS BIGINT) AS sum_luma
      |FROM blocks GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.JpegCodec
    Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val w = 8 * (1 + (d % 3).toInt)
        val h = 8 * (1 + (d % 2).toInt)
        def level(bx: Int, by: Int): Int = (2 + 3 * ((d + bx + 2 * by) % 85)).toInt
        val payload = JpegCodec.encodeJpeg(w, h, (x, y) => {
          val v = level(x / 8, y / 8)
          (v << 16) | (v << 8) | v
        }, quality = 90)
        val img = JpegCodec.decodeJpeg(payload) // the real decoder under test
        var sum = 0L
        var i = 0
        while (i < img.rgb.length) {
          val r = (img.rgb(i) >> 16) & 0xff
          val g = (img.rgb(i) >> 8) & 0xff
          val b = img.rgb(i) & 0xff
          require(r == g && g == b, s"grayscale fixture decoded chromatic: $r/$g/$b")
          sum += r
          i += 1
        }
        (d, img.width, img.height, sum)
      })
      .toDF("media_id", "width", "height", "sum_luma")
      .orderBy(col("media_id"))
  }

  /** REAL pixel resize through [[graft.operators.Multimodal.resizePayload]]:
    * 16x16 grayscale linear-ramp BMPs (v = 2x + 2y + doc%100) are
    * bilinear-downsampled to 8x8 and re-encoded as PPM. Bilinear
    * interpolation of a linear ramp is EXACT, and the 2:1 pixel-center
    * sampling lands on half-integers whose interpolated values are exact
    * integers (no rounding ambiguity) — so DuckDB replays the resized
    * raster as v' = 4X + 4Y + 2 + doc%100 and the whole
    * decode → resample → re-encode chain is hash-pinned.
    */
  val mm_resize_pixels = OpQuery(
    "mm_resize_pixels",
    """WITH px AS (
      |  SELECT doc_id, CAST(doc_id % 100 AS INT) AS d, x.x AS x, y.y AS y
      |  FROM documents,
      |       LATERAL unnest(generate_series(0, 7)) AS x(x),
      |       LATERAL unnest(generate_series(0, 7)) AS y(y))
      |SELECT doc_id AS media_id,
      |       CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
      |       TRUE AS resized,
      |       CAST(SUM(4 * x + 4 * y + 2 + d) AS BIGINT) AS sum_luma
      |FROM px GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.{MediaCodec, Multimodal}
    val media = Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { docId =>
        val d = (docId % 100).toInt
        val payload = MediaCodec.encodeBmp24(16, 16, (x, y) => {
          val v = 2 * x + 2 * y + d
          (v << 16) | (v << 8) | v
        })
        (docId, "image", payload, (16, 16, 16000, 1))
      })
      .toDF("media_id", "modality", "payload", "meta")
      .select(col("media_id"), col("modality"), col("payload"),
        col("meta").cast("struct<width:int,height:int,sample_rate:int,n_frames:int>")
          .as("meta"))
    Multimodal.resizePayload(media, maxDim = 8)
      .as[(Long, String, Array[Byte], (Int, Int, Int, Int), Boolean)]
      .map { case (id, _, payload, meta, resized) =>
        val img = MediaCodec.decodePpm(payload)
        var sum = 0L
        var i = 0
        while (i < img.rgb.length) { sum += (img.rgb(i) >> 16) & 0xff; i += 1 }
        require(meta._1 == img.width && meta._2 == img.height,
          s"meta ${meta._1}x${meta._2} disagrees with payload ${img.width}x${img.height}")
        (id, img.width, img.height, resized, sum)
      }
      .toDF("media_id", "width", "height", "resized", "sum_luma")
      .orderBy(col("media_id"))
  }

  /** Perceptual image hashing (dHash) through the REAL decode path:
    * per-document 9×8 grayscale BMPs carry a per-group luma formula, so
    * documents sharing `doc_id % 37` are EXACT visual duplicates — the
    * image-dedup join key. The fixture is dHash-grid-sized (no resize),
    * so every comparison bit is a pure formula predicate DuckDB
    * replays; the hash is emitted as two 32-bit halves (a shift into
    * BIGINT's sign bit is an overflow error in DuckDB). The resize path
    * and robustness live in MultimodalSpec.
    */
  val mm_phash_dedup = OpQuery(
    "mm_phash_dedup",
    """WITH b AS (
      |  SELECT doc_id, CAST(doc_id % 37 AS INT) AS g FROM documents
      |), bits AS (
      |  SELECT doc_id, y.y * 8 + x.x AS bit,
      |         CASE WHEN ((g * 7 + (x.x + 1) * (x.x + 1) * 3 + y.y * 5) % 200)
      |                 > ((g * 7 + x.x * x.x * 3 + y.y * 5) % 200)
      |              THEN 1 ELSE 0 END AS v
      |  FROM b,
      |       LATERAL unnest(generate_series(0, 7)) AS x(x),
      |       LATERAL unnest(generate_series(0, 7)) AS y(y))
      |SELECT doc_id AS media_id,
      |       CAST(SUM(CASE WHEN v = 1 AND bit < 32
      |                THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
      |         AS phash_lo,
      |       CAST(SUM(CASE WHEN v = 1 AND bit >= 32
      |                THEN (CAST(1 AS BIGINT) << (bit - 32)) ELSE 0 END) AS BIGINT)
      |         AS phash_hi
      |FROM bits GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.{MediaCodec, Multimodal}
    val media = Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val g = (d % 37).toInt
        val payload = MediaCodec.encodeBmp24(9, 8, (x, y) => {
          val v = (g * 7 + x * x * 3 + y * 5) % 200
          (v << 16) | (v << 8) | v
        })
        (d, payload)
      })
      .toDF("media_id", "payload")
    Multimodal.perceptualHash(media)
      .select(
        col("media_id"),
        col("phash").bitwiseAND(lit(0xFFFFFFFFL)).as("phash_lo"),
        shiftrightunsigned(col("phash"), 32).as("phash_hi"))
      .orderBy(col("media_id"))
  }

  /** Audio fingerprint through the REAL path (WAV decode → 64-sample
    * framing → exact integer WHT → 8 band sums → temporal comparison
    * bits): every stage is integer arithmetic, so DuckDB replays the
    * complete per-frame byte sequence — the butterfly network
    * (`bit_count(j & t)` parity signs), band edges, frame offsets, and
    * the LAG comparison all hash-fail on a slip. Same deterministic
    * WAV fixture as `mm_audio_wht` (shared framing plumbing).
    */
  val mm_audio_fingerprint = OpQuery(
    "mm_audio_fingerprint",
    """WITH g AS (
      |  SELECT doc_id, 50 + CAST(doc_id % 101 AS INT) AS n
      |  FROM documents
      |), s AS (
      |  SELECT doc_id, i.i // 64 AS f, i.i % 64 AS t,
      |         (doc_id * 31 + i.i * 17) % 4093 - 2046 AS v
      |  FROM g, unnest(generate_series(0, (n // 64) * 64 - 1)) AS i(i)
      |), wht AS (
      |  SELECT s.doc_id, s.f, j.j,
      |         SUM(CASE WHEN bit_count(j.j & s.t) % 2 = 0 THEN s.v ELSE -s.v END) AS hj
      |  FROM s, unnest(generate_series(0, 63)) AS j(j)
      |  GROUP BY s.doc_id, s.f, j.j
      |), bandsum AS (
      |  SELECT doc_id, f, j // 8 AS b, SUM(ABS(hj)) AS e
      |  FROM wht GROUP BY doc_id, f, j // 8
      |), bits AS (
      |  SELECT doc_id, f, b,
      |         CASE WHEN e > LAG(e) OVER (PARTITION BY doc_id, b ORDER BY f)
      |              THEN 1 ELSE 0 END AS bit
      |  FROM bandsum
      |), bytes AS (
      |  SELECT doc_id, f, CAST(SUM(bit * (1 << b)) AS INT) AS byte
      |  FROM bits GROUP BY doc_id, f
      |)
      |SELECT doc_id AS media_id,
      |       CAST(COUNT(*) AS INT) AS n_frames,
      |       string_agg(CAST(byte AS VARCHAR), '-' ORDER BY f) AS fp
      |FROM bytes GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val wavs = Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val rate = 8000 + (d % 5).toInt * 1000
        val n = 50 + (d % 101).toInt
        val samples = Array.tabulate(n)(i =>
          ((d * 31 + i * 17) % 4093 - 2046).toShort)
        (d, MediaCodec.encodeWavPcm16(rate, samples))
      })
      .toDF("media_id", "wav")
    AudioFeatures.audioFingerprints(wavs, "media_id", "wav", frameLen = 64)
      .filter(col("n_frames") > 0)
      .select(col("media_id"), col("n_frames"),
        array_join(transform(col("fp"), _.cast("string")), "-").as("fp"))
      .orderBy(col("media_id"))
  }

  /** Progressive (SOF2) JPEG decode through the REAL Annex-G pipeline
    * (VERDICT r8 item 2): multi-scan spectral selection + successive
    * approximation, coefficient accumulation, one dequantize+IDCT at
    * EOI ([[graft.operators.JpegCodec.decodeJpeg]]). Same DC-exact
    * fixture algebra as `mm_jpeg_decode`: block-constant grayscale
    * levels ≡ 2 (mod 3) survive quantization exactly, and the DC
    * successive-approximation ladder (send dc≫1, then the low bit)
    * reconstructs the predictor-chained DC losslessly — so DuckDB
    * replays the block formula against a stream that exercises every
    * progressive scan shape (interleaved DC first/refine, banded AC
    * first, AC refinement). The in-gate require pins that the payload
    * really is SOF2, so this can never silently regress to baseline.
    */
  val mm_jpeg_progressive = OpQuery(
    "mm_jpeg_progressive",
    """WITH g AS (
      |  SELECT doc_id,
      |         8 * (1 + CAST(doc_id % 4 AS INT)) AS w,
      |         8 * (1 + CAST(doc_id % 3 AS INT)) AS h
      |  FROM documents),
      |blocks AS (
      |  SELECT doc_id, w, h,
      |         2 + 3 * CAST((2 * doc_id + 3 * bx.bx + by.by) % 85 AS INT) AS v
      |  FROM g,
      |       LATERAL unnest(generate_series(0, w // 8 - 1)) AS bx(bx),
      |       LATERAL unnest(generate_series(0, h // 8 - 1)) AS by(by))
      |SELECT doc_id AS media_id,
      |       CAST(MAX(w) AS INT) AS width,
      |       CAST(MAX(h) AS INT) AS height,
      |       CAST(SUM(64 * v) AS BIGINT) AS sum_luma
      |FROM blocks GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.JpegCodec
    Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val w = 8 * (1 + (d % 4).toInt)
        val h = 8 * (1 + (d % 3).toInt)
        def level(bx: Int, by: Int): Int = (2 + 3 * ((2 * d + 3 * bx + by) % 85)).toInt
        val payload = JpegCodec.encodeJpegProgressive(w, h, (x, y) => {
          val v = level(x / 8, y / 8)
          (v << 16) | (v << 8) | v
        }, quality = 90)
        // the stream under test must be genuinely progressive (SOF2)
        require((0 until payload.length - 1).exists(i =>
          (payload(i) & 0xff) == 0xff && (payload(i + 1) & 0xff) == 0xc2),
          "fixture payload is not SOF2")
        val img = JpegCodec.decodeJpeg(payload) // the real Annex-G decoder
        var sum = 0L
        var i = 0
        while (i < img.rgb.length) {
          val r = (img.rgb(i) >> 16) & 0xff
          val g = (img.rgb(i) >> 8) & 0xff
          val b = img.rgb(i) & 0xff
          require(r == g && g == b, s"grayscale fixture decoded chromatic: $r/$g/$b")
          sum += r
          i += 1
        }
        (d, img.width, img.height, sum)
      })
      .toDF("media_id", "width", "height", "sum_luma")
      .orderBy(col("media_id"))
  }

  /** Video near-dup via the frame-sampled dHash band fingerprint
    * (VERDICT r9 item 3 — the fourth modality: AVI frames were really
    * decoded since r8 but video dup detection reduced to exact-byte
    * dedup). Fixture: documents group into quartets (g = doc_id/4) of
    * really-encoded 9×8 uncompressed AVIs — p0 the original clip
    * (12 frames @ 40000 µs), p1 the RE-ENCODE (same rasters, different
    * frame rate → different bytes, so exact dedup misses it), p2 the
    * TRUNCATION (first 9 frames at yet another rate), p3 unrelated
    * content. The operator decodes, dHashes every 2nd frame, bands 3
    * hashes per key, and joins on (band_idx, band_key): p0–p1 share
    * BOTH bands, pairs with p2 share exactly the prefix band, p3 pairs
    * with nothing — all known by construction, so the oracle replays
    * pairs and shared-band counts from doc_id arithmetic alone. Chance
    * cross-content band collisions are 2⁻⁶⁴-scale by the splitmix
    * content keys.
    */
  val mm_video_fingerprint: OpQuery = OpQuery(
    "mm_video_fingerprint",
    """WITH d AS (SELECT doc_id FROM documents)
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |       CAST(CASE WHEN a.doc_id % 4 < 2 AND b.doc_id % 4 < 2
      |            THEN 2 ELSE 1 END AS INT) AS shared_bands
      |FROM d a JOIN d b
      |  ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
      |WHERE a.doc_id % 4 < 3 AND b.doc_id % 4 < 3
      |ORDER BY id1, id2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.{MediaCodec, Multimodal}
    val corpus = Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val g = d / 4; val p = (d % 4).toInt
        val contentKey = if (p == 3) 1000000000L + d else g
        val nFrames = if (p == 2) 9 else 12
        val usPerFrame = p match {
          case 1 => 33333; case 2 => 29997; case _ => 40000
        }
        val payload = MediaCodec.encodeAvi(9, 8, nFrames, usPerFrame,
          (f, x, y) => {
            val v = mix(contentKey, f * 1024L + y * 9 + x) % 256
            (v << 16) | (v << 8) | v
          })
        (d, payload)
      })
      .toDF("media_id", "payload")
      .transform(Freeze.eager)
    val fp = Multimodal.videoBandFingerprints(corpus, everyNth = 2,
      bandSize = 3, subBands = 1) // exact mode: bit-identical rasters
    fp.as("a").join(fp.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.sub_idx") === col("b.sub_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("id1"), col("b.media_id").as("id2"))
      .agg(count(lit(1)).cast("int").as("shared_bands"))
      .orderBy("id1", "id2")
  }

  /** COLOR progressive (SOF2) JPEG decode — the chroma path of the
    * Annex-G decoder under a real multi-component progressive stream
    * (VERDICT r9 item 6: the progressive gate fixture was
    * grayscale-content-only, leaving interleaved-DC + chroma-subsampled
    * scans gate-uncovered). Fixture algebra, derived once and pinned
    * in-gate per pixel: block-constant luma levels v ≡ 2 (mod 3) in
    * [20, 230] with a CONSTANT chromatic offset — pixel
    * (v+6, v, v+9). The channel offsets cancel v in the chroma planes
    * (YCbCr coefficients sum to 0 across equal shifts), so Cb/Cr are
    * image-constant; the quality-90 quant ladder then lands exactly:
    * Y DC = 8(3m + 2.82) → quantized 8m+8 → decoded luma plane v+3;
    * Cb = 128+3.487584 → quantized 9·3 → plane offset +3;
    * Cr = 128+2.268192 → quantized 6·3 → plane offset +2; the decoder's
    * integer rounding of (y′ + 1.402·cr′, y′ − 0.344136·cb′ −
    * 0.714136·cr′, y′ + 1.772·cb′) gives EXACTLY (v+6, v+1, v+8) for
    * every block — no clamp ever fires in [20, 230]. Odd docs encode
    * 4:2:0 (dims are multiples of 16, constant chroma survives the box
    * downsample and nearest upsample exactly), even docs 4:4:4 — both
    * chroma layouts hash through one oracle. The in-gate requires pin
    * SOF2 and the per-pixel formula, so a quant-ladder change fails
    * loudly instead of hash-mismatching obscurely.
    */
  val mm_jpeg_progressive_color: OpQuery = OpQuery(
    "mm_jpeg_progressive_color",
    """WITH g AS (
      |  SELECT doc_id,
      |         16 * (1 + CAST(doc_id % 3 AS INT)) AS w,
      |         16 * (1 + CAST(doc_id % 2 AS INT)) AS h
      |  FROM documents),
      |blocks AS (
      |  SELECT doc_id, w, h,
      |         20 + 3 * CAST((doc_id + 2 * bx.bx + by.by) % 71 AS INT) AS v
      |  FROM g,
      |       LATERAL unnest(generate_series(0, w // 8 - 1)) AS bx(bx),
      |       LATERAL unnest(generate_series(0, h // 8 - 1)) AS by(by))
      |SELECT doc_id AS media_id,
      |       CAST(MAX(w) AS INT) AS width,
      |       CAST(MAX(h) AS INT) AS height,
      |       CAST(SUM(64 * (v + 6)) AS BIGINT) AS sum_r,
      |       CAST(SUM(64 * (v + 1)) AS BIGINT) AS sum_g,
      |       CAST(SUM(64 * (v + 8)) AS BIGINT) AS sum_b
      |FROM blocks GROUP BY doc_id
      |ORDER BY media_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.JpegCodec
    Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val w = 16 * (1 + (d % 3).toInt)
        val h = 16 * (1 + (d % 2).toInt)
        def level(bx: Int, by: Int): Int =
          20 + 3 * (((d + 2 * bx + by) % 71).toInt)
        val payload = JpegCodec.encodeJpegProgressive(w, h, (x, y) => {
          val v = level(x / 8, y / 8)
          ((v + 6) << 16) | (v << 8) | (v + 9)
        }, quality = 90, subsample420 = d % 2 == 1)
        require((0 until payload.length - 1).exists(i =>
          (payload(i) & 0xff) == 0xff && (payload(i + 1) & 0xff) == 0xc2),
          "fixture payload is not SOF2")
        val img = JpegCodec.decodeJpeg(payload) // the real Annex-G decoder
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = level(x / 8, y / 8)
            val p = img.rgb(y * w + x)
            val r = (p >> 16) & 0xff; val gg = (p >> 8) & 0xff; val b = p & 0xff
            require(r == v + 6 && gg == v + 1 && b == v + 8,
              s"pixel ($x,$y) of doc $d decoded ($r,$gg,$b), expected " +
                s"(${v + 6},${v + 1},${v + 8}) — quant ladder drifted")
            sr += r; sg += gg; sb += b
            x += 1
          }
          y += 1
        }
        (d, img.width, img.height, sr, sg, sb)
      })
      .toDF("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
      .orderBy(col("media_id"))
  }

  /** Noisy video near-dup: a REAL lossy re-encode does not keep rasters
    * bit-exact — it flips 1–2 dHash bits per frame, and the r10 exact
    * band key (`mm_video_fingerprint`) then misses every band. This
    * gate runs [[graft.operators.Multimodal.videoBandFingerprints]]
    * with `subBands = 4` (each 64-bit frame hash split into four
    * 16-bit pigeonhole lanes, one folded key per lane) over a fixture
    * with PLANTED BIT PERTURBATIONS:
    *
    * quartets g = doc_id/4 of really-encoded 9×8 AVIs (12 frames) —
    *   - p0: the original clip;
    *   - p1: the noisy re-encode — per frame, EXACTLY one dHash bit
    *     flipped (pixel (8, y) of an even row y inverts comparison
    *     (7, y), the one bit that pixel feeds), at a different frame
    *     rate so the bytes differ everywhere;
    *   - p2: the over-perturbed decoy — per frame, one bit flipped in
    *     EVERY lane (odd rows 1/3/5/7 → lanes 0/1/2/3), so no lane
    *     survives on any frame;
    *   - p3: unrelated content.
    *
    * Known by construction: each band holds 3 sampled frames, so p0–p1
    * accumulates ≤ 3 flipped bits per band across 4 lanes — the
    * pigeonhole guarantees ≥ 1 untouched lane per band and the pair
    * collides on EVERY band (2 complete bands); p1's even-row flips
    * and p2's odd-row flips are disjoint, so p2 shares no lane key
    * with either p0 or p1; p3 collides with nothing (splitmix content
    * keys, 2⁻⁶⁴-scale chance). The oracle replays pairs and
    * distinct-shared-band counts from doc_id arithmetic alone. The
    * exact-mode twin (`mm_video_fingerprint`, subBands = 1) would find
    * NOTHING here — pinned in MultimodalSpec, which is the whole
    * point of the lane split.
    */
  val mm_video_fingerprint_noisy: OpQuery = OpQuery(
    "mm_video_fingerprint_noisy",
    """WITH d AS (SELECT doc_id FROM documents)
      |SELECT a.doc_id AS id1, b.doc_id AS id2,
      |       CAST(2 AS BIGINT) AS shared_bands
      |FROM d a JOIN d b
      |  ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id + 1 = b.doc_id
      |WHERE a.doc_id % 4 = 0
      |ORDER BY id1, id2""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.{MediaCodec, Multimodal}
    val corpus = Tables.load(spark, dir, "documents").select("doc_id").as[Long]
      .mapPartitions(_.map { d =>
        val g = d / 4; val p = (d % 4).toInt
        val contentKey = if (p == 3) 2000000000L + d else g
        // base luma in [30, 209]: room for the ±8 comparison inversion
        def base(f: Int, x: Int, y: Int): Int =
          30 + ((mix(contentKey, f * 1024L + y * 9 + x) % 180) + 180) % 180
        // rows whose (8, y) pixel must invert its (7, y) comparison:
        // p1 flips ONE even row per frame; p2 flips one odd row per
        // lane (1,3,5,7) — disjoint from p1's by parity
        def flippedRows(f: Int): Set[Int] = p match {
          case 1 => Set(2 * ((((mix(g * 7 + 13, f) % 4) + 4) % 4)))
          case 2 => Set(1, 3, 5, 7)
          case _ => Set.empty
        }
        val usPerFrame = p match {
          case 1 => 33333; case 2 => 25000; case _ => 40000
        }
        val payload = MediaCodec.encodeAvi(9, 8, 12, usPerFrame,
          (f, x, y) => {
            val v =
              if (x == 8 && flippedRows(f).contains(y)) {
                // invert the (7, y) comparison: bit was set iff
                // base(8) > base(7); push the pixel 8 levels past the
                // other side (luma of a gray pixel is exact)
                val v7 = base(f, 7, y)
                if (base(f, 8, y) > v7) v7 - 8 else v7 + 8
              } else base(f, x, y)
            (v << 16) | (v << 8) | v
          })
        (d, payload)
      })
      .toDF("media_id", "payload")
      .transform(Freeze.eager)
    val fp = Multimodal.videoBandFingerprints(corpus, everyNth = 2,
      bandSize = 3, subBands = 4)
    fp.as("a").join(fp.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.sub_idx") === col("b.sub_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("id1"), col("b.media_id").as("id2"))
      // DISTINCT bands, not raw lane hits: how many lanes survive a
      // band is data-dependent (1–3 of 4); that ≥ 1 survives per band
      // is the pigeonhole guarantee the oracle replays
      .agg(countDistinct(col("a.band_idx")).as("shared_bands"))
      .orderBy("id1", "id2")
  }

  val all: Seq[OpQuery] = Seq(
    mm_media_meta, mm_frame_sample, mm_features, mm_audio_windows,
    mm_image_tiles, mm_caption_pairs, mm_modality_mix, mm_wav_decode,
    mm_bmp_decode, mm_avi_decode, mm_png_decode, mm_gif_decode, mm_audio_wht,
    mm_audio_spectrogram, mm_jpeg_decode, mm_resize_pixels, mm_phash_dedup,
    mm_audio_fingerprint, mm_jpeg_progressive, mm_video_fingerprint,
    mm_jpeg_progressive_color, mm_video_fingerprint_noisy)
}
