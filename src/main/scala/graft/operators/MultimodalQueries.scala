package graft.operators

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{FakeMediaDecoder, FrameSample, MediaMeta}

/** Multimodal operator surface: binary payload columns decoded to typed
  * metadata via a partition-batched decoder (see
  * [[graft.functions.Multimodal]] — decode kernel stubbed, plumbing real).
  *
  * 100 TB scale: decode is a narrow mapPartitions directly over the scan —
  * no shuffle; per-partition decoder open/close amortizes native-library
  * setup; binary payloads never serialize to the driver.
  */
object MultimodalQueries {

  /** documents.text reinterpreted as an opaque binary payload per doc —
    * the fixture ships no real media bytes. */
  private def payloads(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.Dataset[(Long, Array[Byte])] = {
    import s.implicits._
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .as[(Long, Array[Byte])]
  }

  val all: Seq[QueryDef] = Seq(

    // ---------------------------------------------------------------- q35
    // documents.text reinterpreted as an opaque binary payload column
    // (the fixture ships no real media bytes); decoded per-partition.
    QueryDef(
      "q35_multimodal_metadata",
      (s, dir) => {
        import s.implicits._
        val bin = payloads(s, dir)
        graft.functions.Multimodal.decodeMeta(bin, () => new FakeMediaDecoder)
          .toDF().orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
               hex(CAST(substr(text, 1, 8) AS BLOB)) AS header_hex,
               CAST(16 * (1 + octet_length(CAST(text AS BLOB)) % 40) AS INT) AS width,
               CAST(16 * (1 + unicode(text[1]) % 30) AS INT) AS height,
               CAST(1 + octet_length(CAST(text AS BLOB)) % 7 AS INT) AS n_frames
        FROM documents
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q43
    // Frame sampling: 4 evenly-spaced 16-byte frames per payload, each
    // fingerprinted; per-document distinct-frame stats. flatMap shape —
    // one payload expands to n frame rows, still a narrow pipeline.
    QueryDef(
      "q43_multimodal_framesample",
      (s, dir) => {
        import s.implicits._
        val bin = payloads(s, dir)
        val frames = bin.mapPartitions { it =>
          val dec = new FakeMediaDecoder
          it.flatMap { case (id, b) => dec.frameSample(id, b, 4) }
        }
        frames.toDF()
          .groupBy("doc_id")
          .agg(
            count(lit(1)).as("n_frames"),
            countDistinct("frame_fp").as("n_uniq_frames"),
            min(when(col("frame_idx") === 0, col("frame_fp"))).as("first_fp"),
            max("offset").as("last_offset"))
          .orderBy("doc_id")
      },
      Some("""
        WITH f AS (
          SELECT doc_id, i.range AS frame_idx,
                 CAST(i.range * (length(text) - 16) // 3 AS BIGINT) AS off
          FROM documents CROSS JOIN range(4) i
          WHERE length(text) >= 16),
        fp AS (
          SELECT doc_id, frame_idx, off,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(range(1, 17),
                       j -> CAST(unicode(substr(text, CAST(off AS INT) + CAST(j AS INT), 1)) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007) AS frame_fp
          FROM f JOIN documents USING (doc_id))
        SELECT doc_id,
               COUNT(*) AS n_frames,
               COUNT(DISTINCT frame_fp) AS n_uniq_frames,
               CAST(MIN(CASE WHEN frame_idx = 0 THEN frame_fp END) AS BIGINT) AS first_fp,
               CAST(MAX(off) AS BIGINT) AS last_offset
        FROM fp
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q54
    // Resize stage (thumbnail fit-to-64): aspect-preserving integer
    // dimension fit plus a decimated-payload fingerprint, per-partition
    // through the same decoder seam (ImageIoDecoder does real pixel
    // scaling behind the identical signature — MultimodalSpec).
    QueryDef(
      "q54_multimodal_resize",
      (s, dir) => {
        import s.implicits._
        val bin = payloads(s, dir)
        val resized = bin.mapPartitions { it =>
          val dec = new FakeMediaDecoder
          it.map { case (id, b) => dec.resize(id, b, 64) }
        }
        resized.toDF().orderBy("doc_id")
      },
      Some("""
        WITH m AS (
          SELECT doc_id, text,
                 octet_length(CAST(text AS BLOB)) AS len,
                 16 * (1 + octet_length(CAST(text AS BLOB)) % 40) AS w,
                 16 * (1 + unicode(text[1]) % 30) AS h
          FROM documents)
        SELECT doc_id,
               CAST(w AS INT) AS in_w, CAST(h AS INT) AS in_h,
               CAST(GREATEST(1, w * 64 // GREATEST(w, h)) AS INT) AS out_w,
               CAST(GREATEST(1, h * 64 // GREATEST(w, h)) AS INT) AS out_h,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(0, (LEAST(len, 64) - 1) // 4 + 1),
                     i -> CAST(unicode(text[CAST(1 + 4 * i AS INT)]) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % 1000000007) AS out_fp
        FROM m
        ORDER BY doc_id""")),

    // ---------------------------------------------------------------- q76
    // The REAL decoder, oracle-gated: per doc_id, synthesize a
    // deterministic gradient image (pixel(x,y) = (doc_id·31+x·7+y·13)
    // mod 256 gray), encode it with the JVM's own PNG/BMP writers, then
    // decode through the same ImageIoDecoder seam the stub queries use.
    // Both formats are lossless for 24-bit RGB, so the decoded
    // dimensions, aspect-fit thumbnail dims, and the full-pixel rolling
    // hash (resize at maxDim = long edge ⇒ identity mapping) are pure
    // arithmetic the DuckDB oracle replicates — if javax.imageio
    // mis-decoded a single pixel, pixel_fp would mismatch. Narrow
    // mapPartitions, one decoder per partition, no shuffle.
    QueryDef(
      "q76_imageio_decode",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .filter(col("doc_id") < 8).select(col("doc_id")).as[Long]
        val decoded = ids.mapPartitions { it =>
          val dec = new graft.functions.ImageIoDecoder
          it.map { id =>
            val w = 16 + (id % 5).toInt * 8
            val h = 12 + (id % 3).toInt * 10
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            for (y <- 0 until h; x <- 0 until w) {
              val g = ((id * 31 + x * 7 + y * 13) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
            }
            val fmt = if (id % 2 == 0) "png" else "bmp"
            val baos = new java.io.ByteArrayOutputStream()
            require(javax.imageio.ImageIO.write(img, fmt, baos),
              s"doc $id: no $fmt writer on this JVM")
            val bytes = baos.toByteArray
            val meta = dec.decode(id, bytes)
            val thumb = dec.resize(id, bytes, 24)
            val full = dec.resize(id, bytes, math.max(w, h))
            (id, fmt, meta.width, meta.height,
              thumb.out_w, thumb.out_h, full.out_fp)
          }
        }
        decoded
          .toDF("doc_id", "fmt", "width", "height",
            "thumb_w", "thumb_h", "pixel_fp")
          .orderBy("doc_id")
      },
      Some("""
        WITH g AS (
          SELECT doc_id,
                 16 + CAST(doc_id % 5 AS INT) * 8 AS w,
                 12 + CAST(doc_id % 3 AS INT) * 10 AS h
          FROM documents WHERE doc_id < 8)
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
               CAST(w AS INT) AS width, CAST(h AS INT) AS height,
               CAST(GREATEST(1, w * 24 // GREATEST(w, h)) AS INT) AS thumb_w,
               CAST(GREATEST(1, h * 24 // GREATEST(w, h)) AS INT) AS thumb_h,
               list_reduce(
                 flatten([[CAST(((doc_id * 31 + x * 7 + y * 13) % 256) * 65793 AS BIGINT)
                           FOR x IN range(w)] FOR y IN range(h)]),
                 (a, b) -> (a * 31 + b) % 1000000007) AS pixel_fp
        FROM g
        ORDER BY doc_id""")),

    // --------------------------------------------------------------- q102
    // Perceptual-hash (aHash) image dedup through the REAL decoder:
    // 32×32 deterministic images (every doc_id % 4 == 1 is its
    // predecessor's image uniformly brightened by +2 — a re-encode/
    // brightness near-dup), PNG-encoded and DECODED by javax.imageio;
    // the 8×8-block average hash is computed from the DECODED pixels in
    // pure integer arithmetic (bit i set iff blockSum·64 > totalSum —
    // brightness shifts cancel, so each planted pair collides on the
    // hash). Grouping on the 64-bit hash (as two 32-bit halves: DuckDB
    // BIGINT errors on wrap where Java silently overflows) yields the
    // dup groups. A single mis-decoded pixel flips a bit and breaks the
    // oracle match. Narrow mapPartitions → one keyed aggregate; at scale
    // the shuffle carries 16 bytes per image, never pixels.
    QueryDef(
      "q102_perceptual_hash_dedup",
      (s, dir) => {
        import s.implicits._
        val ids = Tables(s, dir, "documents")
          .filter(col("doc_id") < 32).select(col("doc_id")).as[Long]
        val hashed = ids.mapPartitions { it =>
          it.map { id =>
            val seed = if (id % 4 == 1) id - 1 else id
            val off = if (id % 4 == 1) 2 else 0
            val img = new java.awt.image.BufferedImage(
              32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
            for (y <- 0 until 32; x <- 0 until 32) {
              // nonlinear x*y term: distinct seeds produce structurally
              // different images (a pure linear gradient would aHash
              // identically across seeds); % 254 + off stays <= 255, so
              // the +2 brightening never clamps and cancels exactly
              val g = ((seed * 31 + x * 7 + y * 13 + x * y * (1 + seed % 5)) % 254 + off).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
            }
            val baos = new java.io.ByteArrayOutputStream()
            require(javax.imageio.ImageIO.write(img, "png", baos), s"doc $id: no png writer")
            // decode with the real decoder; hash from DECODED pixels
            val dec = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(baos.toByteArray))
            val grays = Array.tabulate(32, 32)((y, x) => (dec.getRGB(x, y) & 0xFF).toLong)
            val total = grays.map(_.sum).sum
            var hi = 0L; var lo = 0L
            for (by <- 0 until 8; bx <- 0 until 8) {
              var bs = 0L
              for (dy <- 0 until 4; dx <- 0 until 4) bs += grays(by * 4 + dy)(bx * 4 + dx)
              val i = by * 8 + bx
              if (bs * 64 > total) {
                if (i < 32) hi |= 1L << (31 - i) else lo |= 1L << (63 - i)
              }
            }
            (id, hi, lo)
          }
        }.toDF("doc_id", "hash_hi", "hash_lo")
        hashed.groupBy("hash_hi", "hash_lo")
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .filter(col("n_copies") > 1)
          .select("keep_id", "n_copies", "hash_hi", "hash_lo")
          .orderBy("keep_id")
      },
      Some("""
        WITH ids AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 1 THEN doc_id - 1 ELSE doc_id END AS seed,
                 CASE WHEN doc_id % 4 = 1 THEN 2 ELSE 0 END AS off
          FROM documents WHERE doc_id < 32),
        pix AS (
          SELECT i.doc_id, p.x, p.y,
                 ((i.seed * 31 + p.x * 7 + p.y * 13 + p.x * p.y * (1 + i.seed % 5)) % 254
                  + i.off) AS g
          FROM ids i CROSS JOIN
               (SELECT a.range AS x, b.range AS y
                FROM range(32) a CROSS JOIN range(32) b) p),
        blocks AS (
          SELECT doc_id, y // 4 AS by, x // 4 AS bx, SUM(g) AS bs
          FROM pix GROUP BY 1, 2, 3),
        tot AS (SELECT doc_id, SUM(g) AS ts FROM pix GROUP BY 1),
        bits AS (
          SELECT b.doc_id, by * 8 + bx AS i,
                 CASE WHEN bs * 64 > ts THEN 1 ELSE 0 END AS bit
          FROM blocks b JOIN tot USING (doc_id)),
        hashes AS (
          SELECT doc_id,
                 CAST(SUM(CASE WHEN i < 32
                               THEN bit * (CAST(1 AS BIGINT) << (31 - i))
                               ELSE 0 END) AS BIGINT) AS hash_hi,
                 CAST(SUM(CASE WHEN i >= 32
                               THEN bit * (CAST(1 AS BIGINT) << (63 - i))
                               ELSE 0 END) AS BIGINT) AS hash_lo
          FROM bits GROUP BY doc_id)
        SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies, hash_hi, hash_lo
        FROM hashes
        GROUP BY hash_hi, hash_lo
        HAVING COUNT(*) > 1
        ORDER BY keep_id"""))
  ,

    // --------------------------------------------------------------- q136
    // Audio feature extraction — the modality q35/q43/q54 leave out:
    // the payload read as 16-bit little-endian PCM mono, reduced to a
    // windowed energy contour (16-sample windows, energy = exact
    // integer sum of |amplitude|) with peak / mean / silence-count
    // stats per track. Unlike the stubbed image dims this is the REAL
    // signal kernel — it runs unchanged on actual PCM bytes; only the
    // payload is a stand-in. Per-partition decoder lifecycle (the
    // mapInPandas batch shape), narrow map, integer-exact against the
    // oracle's byte arithmetic.
    QueryDef(
      "q136_audio_energy",
      (s, dir) => {
        import s.implicits._
        val bin = payloads(s, dir)
        graft.functions.Multimodal
          .audioFeatures(bin, () => new FakeMediaDecoder, 16, 360000L)
          .toDF().orderBy("doc_id")
      },
      // ASCII payloads keep every sample positive; the oracle still
      // states the signed-int16 fold so the contract is the real one.
      // DORMANT ASSUMPTION: the oracle reads text[i] (a CHARACTER) as
      // byte i — identical only while the fixture is pure ASCII. A
      // multi-byte fixture would need the oracle rewritten over
      // CAST(text AS BLOB) byte access; the engine side reads real
      // bytes and needs no change.
      Some("""
        WITH base AS (
          SELECT doc_id, text,
                 CAST(octet_length(CAST(text AS BLOB)) // 2 AS BIGINT)
                   AS ns
          FROM documents),
        b2 AS (SELECT doc_id, text, ns, ns // 16 AS nw FROM base),
        w AS (SELECT doc_id, text, UNNEST(range(0, nw)) AS wi FROM b2),
        e AS (
          SELECT doc_id, wi,
                 list_sum(list_transform(range(0, 16), i ->
                   abs(CASE WHEN unicode(text[CAST((wi * 16 + i) * 2 + 1 AS INT)])
                              + 256 * unicode(text[CAST((wi * 16 + i) * 2 + 2 AS INT)])
                            >= 32768
                       THEN unicode(text[CAST((wi * 16 + i) * 2 + 1 AS INT)])
                              + 256 * unicode(text[CAST((wi * 16 + i) * 2 + 2 AS INT)])
                              - 65536
                       ELSE unicode(text[CAST((wi * 16 + i) * 2 + 1 AS INT)])
                              + 256 * unicode(text[CAST((wi * 16 + i) * 2 + 2 AS INT)])
                       END))) AS en
          FROM w),
        agg AS (
          SELECT doc_id, MAX(en) AS peak, SUM(en) // COUNT(*) AS meane,
                 SUM(CASE WHEN en < 360000 THEN 1 ELSE 0 END) AS sil
          FROM e GROUP BY doc_id)
        SELECT b2.doc_id AS doc_id, ns AS n_samples,
               CAST(nw AS BIGINT) AS n_windows,
               CAST(COALESCE(peak, 0) AS BIGINT) AS peak_energy,
               CAST(COALESCE(meane, 0) AS BIGINT) AS mean_energy,
               CAST(COALESCE(sil, 0) AS BIGINT) AS n_silent
        FROM b2 LEFT JOIN agg ON b2.doc_id = agg.doc_id
        ORDER BY b2.doc_id""")),

    // --------------------------------------------------------------- q211
    // Video shot-boundary detection — the segmentation stage of a video
    // curation pipeline: 16 evenly-spaced frames per payload flow
    // through the decoder seam as a brightness/energy contour, and a
    // cut is declared wherever consecutive frames' energy jumps by more
    // than 150 (a real detector thresholds histogram distance; the
    // thresholding/segmentation machinery is identical). Per payload:
    // frames, detected shots (= cuts + 1), and the sharpest cut. The
    // frame stream is a narrow mapPartitions flatMap (decoder opened
    // once per partition); the lag and rollup ride one doc_id exchange.
    // Oracle is BYTE-exact (hex(encode(text)) nibble decode), matching
    // the decoder's UTF-8 view — multi-byte text cannot diverge.
    QueryDef(
      "q211_shot_boundaries",
      (s, dir) => {
        import s.implicits._
        val bin = payloads(s, dir)
        val frames = bin.mapPartitions { it =>
          val dec = new FakeMediaDecoder
          it.flatMap { case (id, b) => dec.frameEnergy(id, b, 16) }
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("frame_idx")
        frames.toDF()
          .withColumn("delta",
            abs(col("energy") - lag("energy", 1).over(w)))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_frames"),
            (expr("count_if(delta > 150)") + 1L).as("n_shots"),
            coalesce(max("delta"), lit(0L)).as("max_cut"))
          .orderBy("doc_id")
      },
      Some("""
        WITH b AS (
          SELECT doc_id, hex(encode(text)) AS h,
                 octet_length(encode(text)) AS n
          FROM documents),
        f AS (
          SELECT doc_id, i.range AS frame_idx, h,
                 CAST(i.range * (n - 16) // 15 AS BIGINT) AS off
          FROM b CROSS JOIN range(16) i
          WHERE n >= 16),
        e AS (
          SELECT doc_id, frame_idx,
                 list_sum(list_transform(range(1, 17), j ->
                   CAST((strpos('0123456789ABCDEF',
                           substr(h, CAST((off + j) * 2 - 1 AS INT), 1)) - 1) * 16
                      + strpos('0123456789ABCDEF',
                           substr(h, CAST((off + j) * 2 AS INT), 1)) - 1
                     AS BIGINT))) AS energy
          FROM f),
        d AS (
          SELECT doc_id, frame_idx, energy,
                 abs(energy - lag(energy) OVER (PARTITION BY doc_id
                                                ORDER BY frame_idx)) AS delta
          FROM e)
        SELECT doc_id, COUNT(*) AS n_frames,
               CAST(count_if(delta > 150) + 1 AS BIGINT) AS n_shots,
               CAST(COALESCE(MAX(delta), 0) AS BIGINT) AS max_cut
        FROM d
        GROUP BY doc_id
        ORDER BY doc_id"""))
  )
}
