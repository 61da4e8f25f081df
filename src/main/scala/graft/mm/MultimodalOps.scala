package graft.mm

import graft._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._


/** Multimodal-column plumbing (SURVEY §2.V north-star): media payloads as
  * opaque `binary` columns with a typed metadata struct, and per-batch
  * decode/feature-extraction over `mapPartitions` — the Scala analog of
  * the mapInPandas batch shape.
  *
  * The payloads are REAL PNG images, synthesized deterministically from the
  * fixture corpus (the testdata ships no media files): each non-null
  * document becomes an 8-bit grayscale raster whose dimensions and
  * two-band pixel pattern are closed-form functions of `doc_id` and the
  * text length, wrapped in a spec-conformant PNG container
  * ([[PngGray.encode]]; round 12 — previously the JDK `ImageIO` writer,
  * which paid per-call writer/stream setup ~2× the pixel work). The decode
  * side ([[ImageCodec.decode]]) is a genuine ImageIO read of the PNG
  * container — width/height/pixel sums come from the decoded raster, not
  * from the synthesis formulas — and the oracle recomputes the same
  * features from the closed forms (PNG is lossless, so decoded pixels
  * equal synthesized pixels; the raster md5 is rebuilt in SQL via
  * `repeat(chr(g), …)` over the same row-major layout).
  *
  * Scale notes: synth + decode are one `mapPartitions` pass each, no
  * shuffle; partition size is bounded by
  * `spark.sql.files.maxPartitionBytes` so decoded batches fit executor
  * memory; codec state (`MessageDigest`, stream buffers) is constructed
  * once per partition (the expensive-init-per-batch pattern).
  */
object MultimodalOps extends QueryModule {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(doc_id: Long, payload: Array[Byte], mime: String,
      source: String)

  /** Extracted features from the decoded raster. */
  final case class MediaFeatures(doc_id: Long, width: Int, height: Int,
      sum_luma: Long, raster_md5: String)

  /** Deterministic PNG synthesis: the fixture-derived stand-in for real
    * stored media. Dimensions come from the text length, gray levels from
    * `doc_id`; both stay in closed forms the DuckDB oracle can mirror.
    * Gray levels are clamped to 1..127 so the oracle's `chr(g)` is a
    * single ASCII byte (md5 over VARCHAR == md5 over the raster bytes). */
  object MediaSynth {
    /** width 8..71, height 8..55 — small enough that per-row PNG encode
      * stays cheap at bench SFs, big enough for multi-frame sampling. */
    def dims(nChars: Int): (Int, Int) = (nChars % 64 + 8, (nChars * 7) % 48 + 8)

    /** two horizontal bands: rows [0, h/2) at g1, rows [h/2, h) at g2. */
    def grays(docId: Long): (Int, Int) =
      ((docId % 127 + 1).toInt, ((docId * 7) % 127 + 1).toInt)

    def pngBytes(docId: Long, nChars: Int): Array[Byte] = {
      val (w, h) = dims(nChars)
      val (g1, g2) = grays(docId)
      // row-major raster built directly (same pixels the BufferedImage
      // path produced), encoded by the fast container writer — decoded
      // pixels are pinned identical in PngCodecSpec
      val raster = new Array[Byte](w * h)
      val h1 = h / 2
      java.util.Arrays.fill(raster, 0, w * h1, g1.toByte)
      java.util.Arrays.fill(raster, w * h1, w * h, g2.toByte)
      PngGray.encode(w, h, raster)
    }
  }

  /** Real PNG decode via the JDK's ImageIO. Every emitted feature is read
    * from the DECODED raster — the synthesis formulas never appear here.
    * Round 12: delegates to [[PngGray.decode]] (reused per-thread
    * `ImageReader`, bulk raster copy) — still a genuine ImageIO decode,
    * value-identical to the original per-pixel extraction
    * (PngCodecSpec pins both). */
  object ImageCodec {
    /** @return (width, height, rasterBytes row-major) */
    def decode(payload: Array[Byte]): (Int, Int, Array[Byte]) =
      PngGray.decode(payload)
  }

  /** documents re-cast as a real-media table: each non-null text row
    * becomes a genuine PNG payload (a NULL text row has no payload and
    * therefore no media rows — each oracle mirrors with
    * `WHERE text IS NOT NULL`). Synthesis runs distributed, one
    * mapPartitions pass, no shuffle. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    // spread the NARROW pre-synth projection across cores: the driver
    // testdata is one row group per table, so without this the whole
    // synth+decode pipeline fuses into a single scan task (round 12;
    // no-op when the input already scans wide — Spread scaladoc)
    graft.util.Spread.toCores(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), length(col("text")).cast("int").as("n_chars"),
        col("source")))
      .as[(Long, Int, String)]
      .mapPartitions { rows =>
        rows.map { case (id, n, src) =>
          MediaRow(id, MediaSynth.pngBytes(id, n), "image/png", src)
        }
      }
  }

  /** V7: batch feature extraction — a REAL `ImageIO.read` per row, codec
    * state constructed once per partition, rows streamed through it. */
  def extractFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions { rows =>
      // per-partition init site (digest instance reused across the batch)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (w, h, raster) = ImageCodec.decode(r.payload)
        var sum = 0L
        var i = 0
        while (i < raster.length) { sum += raster(i) & 0xff; i += 1 }
        val hash = md.digest(raster).map("%02x".format(_)).mkString
        MediaFeatures(r.doc_id, w, h, sum, hash)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** Resize output: original + fitted dimensions. */
  final case class ResizedMedia(doc_id: Long, width: Int, height: Int,
      new_width: Int, new_height: Int)

  /** V7b: resize — fit the DECODED dimensions into a 128x96 box
    * preserving aspect ratio, integer floor math (scale =
    * min(128/w, 96/h), applied exactly as a cross-multiplication so no
    * floating point enters the geometry). */
  def resizeMedia(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions { rows =>
      rows.map { r =>
        val (w, h, _) = ImageCodec.decode(r.payload)
        // fit into (128, 96): scale = min(128/w, 96/h), floor math
        val (nw, nh) =
          if (128L * h <= 96L * w) (128, (h.toLong * 128 / w).toInt)
          else ((w.toLong * 96 / h).toInt, 96)
        ResizedMedia(r.doc_id, w, h, nw, nh)
      }
    }.toDF().orderBy(col("doc_id"))
  }

  /** One sampled frame of the decoded pixel stream. */
  final case class FrameSample(doc_id: Long, frame_idx: Int, ts_ms: Int,
      frame_hash: String)

  /** V7c: frame sampling — decode the payload, then treat the decoded
    * raster as a stream of fixed-size frames, keep every `stride`-th, one
    * OUTPUT ROW PER FRAME (the flatMap/explode shape a video pipeline
    * needs), each frame content-hashed. A real video build swaps the
    * raster-slice "frame" for a demuxer/codec frame read; the
    * decode-then-multiply row shape, ordering and per-partition digest
    * reuse carry over unchanged. */
  def sampleFrames(spark: SparkSession, dir: String,
      frameBytes: Int = 100, stride: Int = 2): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).mapPartitions { rows =>
      // per-partition init (real: demuxer/codec context)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.flatMap { r =>
        val (_, _, raster) = ImageCodec.decode(r.payload)
        val n = raster.length
        // ceil(n / frameBytes): the last (possibly short) frame counts,
        // an exact multiple does NOT get a phantom empty frame.
        val nFrames = (n + frameBytes - 1) / frameBytes
        (0 until nFrames by stride).iterator.map { idx =>
          val start = idx * frameBytes
          val end = math.min(start + frameBytes, n)
          val hash = md.digest(java.util.Arrays.copyOfRange(raster,
            start, end)).map("%02x".format(_)).mkString
          FrameSample(r.doc_id, idx, idx * 40, hash)
        }
      }
    }.toDF().orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Per-copy brightness-shifted pattern synthesis for the perceptual-hash
    * operator (v7d). Unlike [[MediaSynth]] (keyed by doc_id), everything
    * except the brightness offset derives from the NORMALIZED CONTENT
    * hash — so two crawls of the same document yield the same pattern at
    * different brightness: byte-identical nowhere (different PNG bytes,
    * different raster md5), visually identical everywhere. That is the
    * exact failure mode of byte-level dedup (v1/v20) on media, and what a
    * gradient perceptual hash is invariant to.
    *
    * Closed forms (all mirrored in the oracle SQL):
    *   hex = md5(canonical text);  a = doc_id % 27  (the brightness shift)
    *   dx = hex[0:2] % 13 + 1, dy = hex[2:4] % 11 + 1
    *   w  = hex[4:6] % 48 + 16, h  = hex[6:8] % 32 + 16
    *   pixel(x,y) = (dx*x + dy*y) % 100 + 1 + a   — in [1,127]
    */
  object PhashSynth {
    final case class Params(dx: Int, dy: Int, w: Int, h: Int, a: Int)
    def params(hex: String, docId: Long): Params = {
      def hx(off: Int) = Integer.parseInt(hex.substring(off, off + 2), 16)
      Params(hx(0) % 13 + 1, hx(2) % 11 + 1, hx(4) % 48 + 16,
        hx(6) % 32 + 16, (docId % 27).toInt)
    }
    def pngBytes(hex: String, docId: Long): Array[Byte] = {
      val p = params(hex, docId)
      // same pixel formula, written straight into the row-major raster
      val raster = new Array[Byte](p.w * p.h)
      var y = 0
      while (y < p.h) {
        var x = 0
        while (x < p.w) {
          raster(y * p.w + x) = ((p.dx * x + p.dy * y) % 100 + 1 + p.a).toByte
          x += 1
        }
        y += 1
      }
      PngGray.encode(p.w, p.h, raster)
    }
  }

  /** Per-image perceptual signature, computed from the DECODED raster. */
  final case class DHashRow(doc_id: Long, dhash: Long, raster_md5: String)

  /** The 64-bit horizontal-gradient dHash of a decoded grayscale raster:
    * sample a 9x8 nearest-neighbor grid (sx(i) = (2i+1)w/16-ths of the
    * width at 18ths, sy(j) = (2j+1)h/16), bit (j,i) set iff the right
    * neighbor is brighter. A uniform brightness shift adds the same
    * constant to both operands of every comparison, so the hash is
    * brightness-invariant by construction. */
  def dhash64(w: Int, h: Int, raster: Array[Byte]): Long = {
    var hash = 0L
    var j = 0
    while (j < 8) {
      val sy = (2 * j + 1) * h / 16
      var i = 0
      while (i < 8) {
        val x0 = (2 * i + 1) * w / 18
        val x1 = (2 * i + 3) * w / 18
        val p0 = raster(sy * w + x0) & 0xff
        val p1 = raster(sy * w + x1) & 0xff
        if (p1 > p0) hash |= 1L << (j * 8 + i)
        i += 1
      }
      j += 1
    }
    hash
  }

  /** The v7d media table: one real PNG per non-null document, pattern
    * keyed by normalized content, brightness by doc_id (see PhashSynth).
    * Distributed synthesis, one mapPartitions pass, no shuffle. */
  def phashMediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    // same single-row-group spread as mediaTable: the pattern synth +
    // decode downstream is the heavy per-row work (round 12)
    graft.util.Spread.toCores(Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), graft.TextCanon.normHash.as("hh")))
      .as[(Long, String)]
      .mapPartitions { rows =>
        rows.map { case (id, hh) =>
          MediaRow(id, PhashSynth.pngBytes(hh, id), "image/png", "phash")
        }
      }
  }

  /** Decode each payload and compute its perceptual signature + raster
    * md5 (the byte-level witness). Codec + digest init once per
    * partition; everything reads the decoded raster, never the formulas. */
  def dhashes(spark: SparkSession, dir: String): Dataset[DHashRow] = {
    import spark.implicits._
    phashMediaTable(spark, dir).mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val (w, h, raster) = ImageCodec.decode(r.payload)
        DHashRow(r.doc_id, dhash64(w, h, raster),
          md.digest(raster).map("%02x".format(_)).mkString)
      }
    }
  }

  /** V7d: perceptual image near-dup — doc pairs within hamming ≤ 6 of
    * each other's dHash, found by the v2c pigeonhole (8 x 8-bit blocks:
    * hamming ≤ 7 forces agreement on ≥1 block), exact hamming as the
    * residual filter. `raster_equal` witnesses WHY this operator exists:
    * the planted same-content pairs match at hamming 0 with
    * raster_equal = false — byte-identical nowhere (brightness shift),
    * perceptually identical everywhere; v1/v20's byte hashing cannot see
    * them. Candidate generation is one linear explode + keyed self-join.
    * At extreme scale the pre-collapse path applies: group identical
    * dhash values first (distinct 64-bit hashes ≪ docs when duplication
    * is heavy), pair-join hash representatives, then re-expand — same
    * residual filter, pair work quadratic only in DISTINCT signatures. */
  def imagePhashDedup(spark: SparkSession, dir: String,
      maxHamming: Int = 6): DataFrame = {
    // memoized ([[graft.util.Memo.frame]]): both sides of the pigeonhole
    // self-join scan this subtree, and without the memo each scan pays
    // the full PNG-encode + ImageIO-decode pass over the corpus (the
    // dominant cost — measured 2x the whole entry); the signature
    // table is 3 narrow columns, exactly what a production pipeline
    // would store after the codec stage anyway
    val sigs = graft.util.Memo.frame(spark, "v7d_dhashes", dir)(
      dhashes(spark, dir).toDF())
    val blocks = (0 until 8).map(k =>
      shiftright(col("dhash"), 8 * k).bitwiseAND(lit(0xFFL)))
    val keyed = sigs.select(col("doc_id"), col("dhash"), col("raster_md5"),
      posexplode(array(blocks: _*)).as(Seq("blk_idx", "blk")))
    val x = keyed.select(col("doc_id").as("doc_a"), col("dhash").as("h_a"),
      col("raster_md5").as("m_a"), col("blk_idx"), col("blk"))
    val y = keyed.select(col("doc_id").as("doc_b"), col("dhash").as("h_b"),
      col("raster_md5").as("m_b"), col("blk_idx"), col("blk"))
    x.join(y, Seq("blk_idx", "blk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"),
        (col("m_a") === col("m_b")).as("raster_equal"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Shared oracle prelude: the synthesis closed forms (dims, gray bands,
    * row-major raster rebuilt as an ASCII string — every gray level is
    * 1..127 so one char == one raster byte). */
  private val oracleRaster =
    """WITH m AS (SELECT doc_id, length(text) AS n
      |  FROM documents WHERE text IS NOT NULL),
      | d AS (SELECT doc_id, n % 64 + 8 AS w, (n * 7) % 48 + 8 AS h,
      |   CAST(doc_id % 127 + 1 AS INT) AS g1,
      |   CAST((doc_id * 7) % 127 + 1 AS INT) AS g2 FROM m),
      | r AS (SELECT doc_id, w, h, g1, g2, h // 2 AS h1,
      |   repeat(chr(g1), w * (h // 2)) || repeat(chr(g2), w * (h - h // 2))
      |     AS raster FROM d)""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v7_multimodal_features",
      "V7 multimodal binary-column plumbing: real PNG payloads decoded " +
        "with ImageIO in a mapPartitions batch -> width/height/luma-sum/" +
        "raster-md5, oracle rebuilds the lossless raster in SQL",
      extractFeatures,
      Some(oracleRaster +
        """
          |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          | CAST(w * (h1 * g1 + (h - h1) * g2) AS BIGINT) AS sum_luma,
          | md5(raster) AS raster_md5
          |FROM r ORDER BY doc_id""".stripMargin)),
    GraftQuery("v7b_media_resize",
      "V7 resize step: fit ImageIO-decoded dims into 128x96, integer " +
        "floor aspect math (cross-multiplied, float-free)",
      resizeMedia,
      Some(oracleRaster +
        """
          |SELECT doc_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
          | CAST(CASE WHEN 128*h <= 96*w THEN 128 ELSE (w*96)//h END AS INT)
          |   AS new_width,
          | CAST(CASE WHEN 128*h <= 96*w THEN (h*128)//w ELSE 96 END AS INT)
          |   AS new_height
          |FROM r ORDER BY doc_id""".stripMargin)),
    GraftQuery("v7c_frame_sample",
      "V7 frame sampling: decode, then slice the raster into 100-byte " +
        "frames, every 2nd kept, one row per frame with content hash " +
        "(decode-then-flatMap row-multiplication shape)",
      (s, d) => sampleFrames(s, d),
      Some(oracleRaster +
        """,
          | f AS (SELECT doc_id, raster, w * h AS n,
          |   unnest(generate_series(0, (w * h + 99) // 100 - 1, 2)) AS idx
          |   FROM r)
          |SELECT doc_id, CAST(idx AS INT) AS frame_idx,
          | CAST(idx * 40 AS INT) AS ts_ms,
          | md5(substring(raster, idx * 100 + 1, 100)) AS frame_hash
          |FROM f ORDER BY doc_id, frame_idx""".stripMargin)),
    GraftQuery("v7d_image_phash_dedup",
      "V7d perceptual image near-dup: real PNGs decoded, 64-bit " +
        "horizontal-gradient dHash over a 9x8 sample grid, pairs within " +
        "hamming<=6 via the 8-block pigeonhole join; brightness-shifted " +
        "same-content copies match at hamming 0 while their raster md5s " +
        "differ (what byte-level dedup cannot see)",
      (s, d) => imagePhashDedup(s, d),
      Some(
        """WITH m AS (SELECT doc_id, CAST(doc_id % 27 AS INT) AS a,
          |   md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS hh
          |  FROM documents WHERE text IS NOT NULL),
          | p AS (SELECT doc_id, a,
          |   ('0x' || substr(hh, 1, 2))::INT % 13 + 1 AS dx,
          |   ('0x' || substr(hh, 3, 2))::INT % 11 + 1 AS dy,
          |   ('0x' || substr(hh, 5, 2))::INT % 48 + 16 AS w,
          |   ('0x' || substr(hh, 7, 2))::INT % 32 + 16 AS h
          |  FROM m),
          | b AS (SELECT doc_id, j, i,
          |   CASE WHEN ((dx * ((2*i+3)*w // 18) + dy * ((2*j+1)*h // 16)) % 100)
          |           > ((dx * ((2*i+1)*w // 18) + dy * ((2*j+1)*h // 16)) % 100)
          |        THEN 1 ELSE 0 END AS f
          |  FROM p, generate_series(0, 7) gj(j), generate_series(0, 7) gi(i)),
          | hs AS (SELECT doc_id,
          |   bit_or(CASE WHEN j*8 + i < 63 THEN f::BIGINT << (j*8 + i)
          |               ELSE 0 END)
          |   + CAST(sum(CASE WHEN j*8 + i = 63 AND f = 1
          |              THEN -9223372036854775807 - 1 ELSE 0 END)
          |          AS BIGINT) AS dhash
          |  FROM b GROUP BY doc_id)
          |SELECT hx.doc_id AS doc_a, hy.doc_id AS doc_b,
          | CAST(bit_count(xor(hx.dhash, hy.dhash)) AS INT) AS hamming,
          | (px.dx = py.dx AND px.dy = py.dy AND px.w = py.w
          |  AND px.h = py.h AND px.a = py.a) AS raster_equal
          |FROM hs hx JOIN hs hy ON hx.doc_id < hy.doc_id
          |JOIN p px ON px.doc_id = hx.doc_id
          |JOIN p py ON py.doc_id = hy.doc_id
          |WHERE bit_count(xor(hx.dhash, hy.dhash)) <= 6
          |ORDER BY doc_a, doc_b""".stripMargin)))
}
