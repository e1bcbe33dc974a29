package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column pack: image/audio/video as opaque `binary` columns with
  * typed metadata, decoded/feature-extracted per partition.
  *
  * The payloads are REAL encoded media — PNG images written and read back
  * with `javax.imageio.ImageIO`, WAV audio written and read back with
  * `javax.sound.sampled.AudioSystem` (both JDK-standard codecs, no external
  * deps) — and the decode step in each operator is a genuine codec decode,
  * not byte math over a fake payload. The trick that keeps the features
  * hash-oracle-able by DuckDB (which has no codecs): the pixel/sample DATA
  * is a closed-form integer function of `doc_id`, and PNG / 16-bit PCM WAV
  * are lossless, so decoded values equal generated values exactly and the
  * oracle replays the features from the closed form without ever seeing a
  * byte of PNG/WAV. An encoder or decoder regression on the engine side
  * therefore breaks the hash compare.
  *
  * Scale shape: encode and decode both run inside typed `mapPartitions`
  * batches (the per-partition imperative call-out shape a libjpeg/ffmpeg
  * pipeline uses) — embarrassingly parallel, no shuffle before the
  * presentation sort. At 100 TB the binary columns arrive from an object
  * store via `binaryFile` (q125 / q159) instead of being synthesized, and
  * the same decode partitions apply unchanged.
  */
object Multimodal {

  // ImageIO's default scratch-file cache serializes concurrent encodes on a
  // temp-dir lock and leaves files behind; in-memory streams are strictly
  // better for these small rasters.
  javax.imageio.ImageIO.setUseCache(false)

  /** Deterministic channel value at linear index k of doc `d`'s raster
    * (k = (y·w + x)·3 + c): the closed form both the engine's generator and
    * the DuckDB oracle compute. All-positive Long math, so `%` agrees
    * between Scala and SQL. */
  @inline private def pix(d: Long, salt: Long, k: Long): Int =
    ((d * 31L + salt + k * 7L) % 256L).toInt

  private def imageDims(d: Long): (Int, Int) = ((d % 16 + 4).toInt, (d % 12 + 4).toInt)

  /** Encode doc `d`'s deterministic raster as a real PNG. `fSalt` offsets
    * the pixel function for video frames. */
  private def encodePng(d: Long, w: Int, h: Int, fSalt: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val k = (y.toLong * w + x) * 3L
        val rgb =
          (pix(d, fSalt, k) << 16) | (pix(d, fSalt, k + 1) << 8) | pix(d, fSalt, k + 2)
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** One image row: real PNG payload + typed metadata. */
  final case class ImageRow(doc_id: Long, img: Array[Byte], width: Int, height: Int, channels: Int)

  /** Features extracted from the DECODED pixels (never from the metadata —
    * width/height come from the PNG header the decoder parsed). */
  final case class ImageFeatures(
      doc_id: Long,
      width: Int,
      height: Int,
      n_vals: Long,
      pix_sum: Long,
      pix_min: Int,
      pix_max: Int,
      n_gt128: Long,
      mean_milli: Long
  )

  /** The multimodal table: a real PNG per document (4–19 × 4–15 px RGB,
    * pixel data = the closed form above) + typed metadata. */
  def imageTable(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .spread(Tables.documents(spark, sfDir))
      .select($"doc_id")
      .as[Long]
      .mapPartitions { ids =>
        ids.map { d =>
          val (w, h) = imageDims(d)
          ImageRow(d, encodePng(d, w, h, 0L), w, h, 3)
        }
      }
      .toDF()
  }

  /** Declared query (q71): REAL image decode + feature extraction via typed
    * mapPartitions. `ImageIO.read` parses the PNG container, inflates the
    * scanlines, and yields the raster; every feature is computed from those
    * decoded pixels. The oracle replays the closed form — a codec bug on
    * either side of the round trip breaks the hash. */
  def imageFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    imageTable(spark, sfDir)
      .as[ImageRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.img))
          val (w, h) = (img.getWidth, img.getHeight) // from the decoded header
          var sum = 0L; var min = 255; var max = 0; var gt = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              var c = 0
              while (c < 3) {
                val v = (rgb >>> (16 - 8 * c)) & 0xff
                sum += v; gt += (if (v > 128) 1 else 0)
                if (v < min) min = v
                if (v > max) max = v
                c += 1
              }
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h * 3
          ImageFeatures(r.doc_id, w, h, n, sum, min, max, gt, sum * 1000L / n)
        }
      }
      .toDF()
      .orderBy($"doc_id")
  }

  // ---- audio ----

  /** Deterministic 16-bit sample at time t of doc `d`: range −2048..2047.
    * All-positive Long math before the final shift, so `%` agrees between
    * Scala and SQL. */
  @inline private def sample(d: Long, t: Long): Int = ((d * 7919L + t * 104729L) % 4096L).toInt - 2048

  private val AudioWindows = 3
  private val WindowSamples = 160 // 10 ms @ 16 kHz
  private val SampleRate = 16000

  final case class AudioRow(doc_id: Long, wav: Array[Byte])

  final case class AudioFeature(
      doc_id: Long,
      window_idx: Int,
      sample_rate: Int,
      energy: Long,
      peak: Int,
      n_zero_cross: Long
  )

  /** Encode doc `d`'s 480 deterministic samples as a real RIFF/WAVE file
    * (PCM_SIGNED 16-bit mono little-endian) via AudioSystem. */
  private[graft] def encodeWav(d: Long): Array[Byte] = {
    // Canonical 44-byte RIFF/WAVE header written directly (r19):
    // byte-identical to AudioSystem.write's PCM output (same chunk layout,
    // sizes and LE fields — WavBytesSpec pins the equality), without the
    // per-call AudioFileWriter provider lookup that dominated the encode
    // at ~480 samples/file (q58 measured 3.3 -> 1.8 s at sf0.1). The
    // DECODE side below stays AudioSystem.getAudioInputStream — the REAL
    // header parse is the operator's point; only the fixture synthesis is
    // hand-rolled.
    val n   = AudioWindows * WindowSamples
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = sample(d, t)
      pcm(2 * t) = (s & 0xff).toByte // little-endian
      pcm(2 * t + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val bb = java.nio.ByteBuffer
      .allocate(44 + pcm.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")); bb.putInt(36 + pcm.length)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")); bb.putInt(16)
    bb.putShort(1) // PCM
    bb.putShort(1) // mono
    bb.putInt(SampleRate)
    bb.putInt(SampleRate * 2) // byte rate = rate * block align
    bb.putShort(2)            // block align = channels * 16/8
    bb.putShort(16)           // bits per sample
    bb.put("data".getBytes("US-ASCII")); bb.putInt(pcm.length); bb.put(pcm)
    bb.array()
  }

  /** Declared query (q58): REAL WAV decode + windowed DSP features.
    * `AudioSystem.getAudioInputStream` parses the RIFF header (the emitted
    * `sample_rate` comes from that parsed header, not a constant on the
    * engine side), the PCM frames are re-read as 16-bit LE samples, and
    * per-window energy (Σ s²), peak (max |s|) and zero-crossing count are
    * computed from the decoded signal. Lossless PCM → the oracle replays
    * the closed form. */
  def audioFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .spread(Tables.documents(spark, sfDir))
      .select($"doc_id")
      .as[Long]
      .mapPartitions(ids => ids.map(d => AudioRow(d, encodeWav(d))))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.wav))
          val fmt = in.getFormat
          val rate = fmt.getSampleRate.toInt // from the decoded RIFF header
          val pcm = in.readAllBytes()
          in.close()
          val n = pcm.length / 2
          val s = new Array[Int](n)
          var t = 0
          while (t < n) {
            s(t) = ((pcm(2 * t) & 0xff) | (pcm(2 * t + 1).toInt << 8)) // LE signed
            t += 1
          }
          (0 until AudioWindows).iterator.map { w =>
            var energy = 0L; var peak = 0; var zc = 0L
            var i = 0
            while (i < WindowSamples) {
              val v = s(w * WindowSamples + i)
              energy += v.toLong * v
              val a = math.abs(v)
              if (a > peak) peak = a
              if (i > 0 && s(w * WindowSamples + i - 1).toLong * v < 0) zc += 1
              i += 1
            }
            AudioFeature(r.doc_id, w, rate, energy, peak, zc)
          }
        }
      }
      .toDF()
      .orderBy($"doc_id", $"window_idx")
  }

  /** Re-containerize a canonical WAV with a benign LIST/INFO metadata
    * chunk inserted before the data chunk: IDENTICAL PCM payload,
    * DIFFERENT file bytes (26 more of them, and a patched RIFF size).
    * The q182 planted variant — a byte-level dedup (md5 of the file)
    * would treat it as unique; content dedup must not. */
  private def wavWithListChunk(canonical: Array[Byte]): Array[Byte] = {
    def le(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // walk the RIFF chunks to the data header
    var i = 12
    while (!(canonical(i) == 'd' && canonical(i + 1) == 'a' &&
             canonical(i + 2) == 't' && canonical(i + 3) == 'a')) {
      val sz = (canonical(i + 4) & 0xff) | ((canonical(i + 5) & 0xff) << 8) |
        ((canonical(i + 6) & 0xff) << 16) | ((canonical(i + 7) & 0xff) << 24)
      i += 8 + sz + (sz & 1)
    }
    val payload = "INFO".getBytes("ISO-8859-1") ++ "ICMT".getBytes("ISO-8859-1") ++
      le(6) ++ "graft ".getBytes("ISO-8859-1")
    val chunk = "LIST".getBytes("ISO-8859-1") ++ le(payload.length) ++ payload
    val out   = new Array[Byte](canonical.length + chunk.length)
    System.arraycopy(canonical, 0, out, 0, i)
    System.arraycopy(chunk, 0, out, i, chunk.length)
    System.arraycopy(canonical, i, out, i + chunk.length, canonical.length - i)
    val oldRiff = (out(4) & 0xff) | ((out(5) & 0xff) << 8) | ((out(6) & 0xff) << 16) | ((out(7) & 0xff) << 24)
    val nr      = le(oldRiff + chunk.length)
    out(4) = nr(0); out(5) = nr(1); out(6) = nr(2); out(7) = nr(3)
    out
  }

  /** Declared query (q182): CONTAINER-INVARIANT audio dedup — the q64
    * exact-dedup discipline across the AUDIO boundary, keyed on DECODED
    * CONTENT rather than file bytes. The corpus is the q58 audio table
    * plus planted re-containerized copies (every %11 doc under +7M ids:
    * the SAME 480 PCM samples wrapped in a WAV that carries an extra
    * LIST/INFO metadata chunk — different bytes, identical signal; a real
    * crawl's mix of tag-stripped and tag-carrying files). Each WAV is
    * REAL-decoded (`AudioSystem.getAudioInputStream` walks the RIFF
    * chunks — the variant forces it past the LIST chunk), the PCM is
    * re-read as 16-bit LE samples, and the dedup key is the md5 of the
    * canonical comma-joined sample string. Output pins BOTH halves of the
    * claim: `n_bytes` (from the FILE — differs between variants, proving
    * the containers really differed) and the content groups (rep/copies/
    * keep — proving the decode made them collapse anyway). Oracle: the
    * closed-form sample function replays the sample string, its md5, and
    * the byte arithmetic (44-byte canonical RIFF/fmt/data framing + 26
    * for the planted chunk). A decoder that md5s bytes instead of
    * content, or fails to skip unknown RIFF chunks, breaks the hash. */
  def audioDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables
      .spread(Tables.documents(spark, sfDir))
      .select($"doc_id")
      .as[Long]
    val corpus = ids
      .map(d => (d, d, 0))
      .union(ids.filter(_ % 11 == 0).map(d => (d + 7000000L, d, 1)))
    val rows = corpus
      .mapPartitions { rs =>
        rs.map { case (id, base, variant) =>
          val canonical = encodeWav(base)
          (id, if (variant == 1) wavWithListChunk(canonical) else canonical)
        }
      }
      .mapPartitions { rs =>
        rs.map { case (id, wav) =>
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(wav))
          val pcm = in.readAllBytes()
          in.close()
          val n  = pcm.length / 2
          val sb = new StringBuilder
          var t  = 0
          while (t < n) {
            if (t > 0) sb.append(',')
            sb.append((pcm(2 * t) & 0xff) | (pcm(2 * t + 1).toInt << 8)) // LE signed
            t += 1
          }
          val md = java.security.MessageDigest.getInstance("MD5")
            .digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          (id, wav.length.toLong, md.map("%02x".format(_)).mkString)
        }
      }
      .toDF("doc_id", "n_bytes", "pcm_md5")
      // ONE codec pass (r20, the q179 discipline): the decoded-content
      // table feeds both the group election and the per-file verdict join;
      // without a materialization the WAV encode+decode ran once per
      // consumer. Minimal width (id, length, md5), eager, executor-local.
      .localCheckpoint(true)
    val grp = rows
      .groupBy($"pcm_md5")
      .agg(min($"doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
    rows
      .join(grp, "pcm_md5")
      .select(
        $"doc_id",
        $"n_bytes",
        $"pcm_md5",
        $"rep_id",
        $"n_copies",
        ($"doc_id" === $"rep_id").as("is_kept")
      )
      .orderBy($"doc_id")
  }

  // ---- video ----

  private def frameDims(d: Long): (Int, Int) = ((d % 8 + 4).toInt, (d % 6 + 4).toInt)
  private val VideoFrames = 4

  final case class VideoRow(doc_id: Long, video: Array[Byte], n_frames: Int)

  final case class FrameFeature(doc_id: Long, frame_idx: Int, pix_sum: Long, pix_max: Int)

  /** Declared query (q72): frame sampling over a real (tiny) container
    * format — the video column is 4 PNG frames each prefixed with a 4-byte
    * big-endian length. The decode partition walks the container, samples
    * every 2nd frame, ImageIO-decodes ONLY the sampled frames (the point of
    * frame sampling: skip the decode cost of the rest), and extracts
    * per-frame features from the decoded pixels. */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables
      .spread(Tables.documents(spark, sfDir))
      .select($"doc_id")
      .as[Long]
      .mapPartitions { ids =>
        ids.map { d =>
          val (w, h) = frameDims(d)
          val bos = new java.io.ByteArrayOutputStream()
          val out = new java.io.DataOutputStream(bos)
          (0 until VideoFrames).foreach { f =>
            val png = encodePng(d, w, h, f * 1009L)
            out.writeInt(png.length)
            out.write(png)
          }
          VideoRow(d, bos.toByteArray, VideoFrames)
        }
      }
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(r.video))
          (0 until r.n_frames).iterator.flatMap { f =>
            val len = in.readInt()
            val png = new Array[Byte](len)
            in.readFully(png)
            if (f % 2 != 0) None // sampled out: container walked, decode skipped
            else {
              val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
              var sum = 0L; var max = 0
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val rgb = img.getRGB(x, y)
                  var c = 0
                  while (c < 3) {
                    val v = (rgb >>> (16 - 8 * c)) & 0xff
                    sum += v
                    if (v > max) max = v
                    c += 1
                  }
                  x += 1
                }
                y += 1
              }
              Some(FrameFeature(r.doc_id, f, sum, max))
            }
          }
        }
      }
      .toDF()
      .orderBy($"doc_id", $"frame_idx")
  }

  /** Declared query (q125): blob-store ingest through Spark's `binaryFile`
    * datasource — the missing FRONT of the multimodal pipeline (the other
    * operators start from binary COLUMNS; real corpora start from files in
    * an object store). A deterministic slice of `events` is materialized as
    * one small blob file per row (fixture PREP, driver-side, bounded at 97
    * files — the operator under test is the SCAN), then read back with
    * `format("binaryFile")`: Spark lists the directory distributed, splits
    * the listing across tasks by size, and yields (path, length, content)
    * rows without any decode — exactly how image/audio corpora enter a
    * cluster. Features are computed relationally on the binary column
    * (length, md5) so the DuckDB oracle can replay them from the source
    * rows without ever seeing a file. */
  // One blob fixture per (JVM, sfDir): q125 is constructed by plan-only
  // consumers too (the corpus sweep walks every declared query), so the
  // prep job and temp dir must not repeat per invocation. The fixture (and
  // therefore the declared query) is local-mode-bound — executors read the
  // driver's temp dir; on a real cluster the blobs would live on a shared
  // store and only the `spark.read.format("binaryFile")` half applies.
  private val blobDirs = new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  // delete at JVM exit — without this every bench/verify/test JVM strands a
  // graft_blobs* dir in /tmp
  sys.addShutdownHook {
    blobDirs.values.forEach(d => graft.sources.ParquetSink.deleteRecursively(d.toString))
  }

  def binaryIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = blobDirs.computeIfAbsent(
      sfDir,
      _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_blobs")
        // blob content is pure text ("<event_type>|<event_id>") so both
        // engines can recompute md5/length from the relational source
        val rows = Tables
          .events(spark, sfDir)
          .filter($"event_id" % 613 === 0)
          .select(
            $"event_id",
            concat($"event_type", lit("|"), $"event_id".cast("string")).as("payload")
          )
          .orderBy($"event_id")
          .as[(Long, String)]
          .head(97) // bounded fixture prep (97 rows max), not a data collect
        rows.foreach { case (id, payload) =>
          java.nio.file.Files.write(d.resolve(f"blob_$id%012d.bin"), payload.getBytes("UTF-8"))
        }
        d
      }
    )
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.bin")
      .load(dir.toString)
      .select(
        // parse the id from the source's own `path` column (part of the
        // binaryFile schema) — input_file_name() is execution-context-
        // dependent and documented to go empty off the V1 file path
        regexp_extract($"path", "blob_(\\d+)\\.bin", 1).cast("long").as("event_id"),
        $"length".cast("long").as("n_bytes"),
        md5($"content").as("content_md5")
      )
      .orderBy($"event_id")
  }

  /** Declared query (q159): the two halves of the multimodal front married —
    * real PNG FILES on disk, ingested distributed via `binaryFile`, then
    * REAL-decoded in the same typed mapPartitions batch shape as q71. The
    * file set is a bounded deterministic slice of `documents` (fixture
    * PREP, one PNG per selected doc, same local-mode caveat as q125); the
    * scan yields (path, content) rows, the doc id is parsed from the
    * path, and the features come from the decoded pixels — so the oracle
    * replays the closed form over the same doc slice. */
  private val pngDirs = new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  sys.addShutdownHook {
    pngDirs.values.forEach(d => graft.sources.ParquetSink.deleteRecursively(d.toString))
  }

  /** One perceptual-hash row: the 64-bit average-hash split into four
    * 16-bit band keys (b = bit index / 16) — the Hamming-banding unit. */
  final case class PhashRow(doc_id: Long, b0: Long, b1: Long, b2: Long, b3: Long)

  /** Declared query (q178): PERCEPTUAL-HASH image near-dup — the dedup
    * discipline (q64/q65/q66) composed across the image boundary (r17
    * verdict stretch 7). The corpus is the q71 image table plus planted
    * near-duplicate re-encodes (doc %9==0 under +5M ids, pixel function
    * offset by salt=1 — every channel shifts +1 mod 256, so the raster is
    * near-identical except at 255→0 wraps: a genuine small-perturbation
    * duplicate, not a byte copy). Each PNG is REAL-decoded (ImageIO, the
    * q71 batch shape) and hashed with a GRID-EXACT average-hash:
    *
    *   - 8×8 nearest-neighbor downsample: cell (i,j) samples the decoded
    *     pixel (i·w/8, j·h/8) (integer division — exact, no resampling
    *     kernel to replicate);
    *   - gray = r+g+b (integer, no division);
    *   - bit(idx) = 64·gray(idx) > Σgray (cross-multiplied integer
    *     threshold — no rounding anywhere), idx = row·8 + col;
    *   - the 64 bits pack into four 16-bit band keys.
    *
    * Near-dup pairs via the q66 SimHash discipline: candidates share ≥1 of
    * 4 bands (pigeonhole-complete for Hamming ≤3; banding IS the operator
    * contract, as in q65/q66), verified at Hamming ≤ 6 computed from the
    * band-key XOR popcounts. Every arithmetic step is closed-form integer
    * math over the lossless PNG round trip, so the DuckDB oracle replays
    * hash, bands, candidates and distances EXACTLY — a decode, sampling,
    * threshold, or popcount regression breaks the hash compare.
    *
    * Scale shape: hash extraction is embarrassingly parallel mapPartitions
    * over decoded batches (no shuffle); the pair stage shuffles on the
    * 16-bit band key with both self-join sides reusing ONE exchange
    * (repartition-before-rename, shuffle_hash — the q65 plan), and the
    * hashes ride the band rows (4 thin longs) so no join back to the
    * corpus is ever needed. At 100 TB the PNG bytes arrive via binaryFile
    * (q125/q159) and the same partitions apply unchanged. */
  /** The q178/q179 hash stage: the planted-near-dup image corpus (every
    * %9 doc re-encoded under +5M ids with pixel salt +1), REAL-decoded and
    * average-hashed into four 16-bit band keys per image. Embarrassingly
    * parallel — no shuffle. */
  /** Decode a PNG and compute the grid-exact 8×8 average-hash as four
    * 16-bit band keys — the one hashing kernel q178/q179/q180 share, so
    * the inline-encoded and binaryFile-ingested routes cannot drift. */
  private[graft] def phashBands(png: Array[Byte]): Array[Long] = {
    val img      = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val (dw, dh) = (img.getWidth, img.getHeight) // decoded header dims
    val grays    = new Array[Long](64)
    var total    = 0L
    var idx      = 0
    while (idx < 64) {
      val x   = (idx % 8) * dw / 8
      val y   = (idx / 8) * dh / 8
      val rgb = img.getRGB(x, y)
      val g   = ((rgb >>> 16) & 0xff) + ((rgb >>> 8) & 0xff) + (rgb & 0xff)
      grays(idx) = g.toLong
      total += g
      idx += 1
    }
    val b = new Array[Long](4)
    idx = 0
    while (idx < 64) {
      if (64L * grays(idx) > total) b(idx / 16) |= 1L << (idx % 16)
      idx += 1
    }
    b
  }

  /** The q178/q179/q181 planted-near-dup image id set: every corpus doc
    * plus the %9 docs re-encoded under +5M ids with pixel salt +1. */
  private def imageCorpusIds(spark: SparkSession, sfDir: String) = {
    import spark.implicits._
    val ids = Tables
      .spread(Tables.documents(spark, sfDir))
      .select($"doc_id")
      .as[Long]
    ids.map(d => (d, d, 0L)).union(ids.filter(_ % 9 == 0).map(d => (d + 5000000L, d, 1L)))
  }

  /** The same corpus as REAL PNG BYTES (doc_id, img) — the q181 streaming
    * fixture's payload: the gate must decode genuine files, not reuse the
    * closed form. */
  private[graft] def imageDupCorpus(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    imageCorpusIds(spark, sfDir)
      .mapPartitions { rows =>
        rows.map { case (id, base, salt) =>
          val (w, h) = imageDims(base)
          (id, encodePng(base, w, h, salt))
        }
      }
      .toDF("doc_id", "img")
  }

  /** Streaming decode stage for the q181 gate (lives HERE because the
    * imperative per-partition codec loop is the Multimodal surface's
    * discipline): each (doc_id, ts, png) row is REAL-decoded and hashed
    * with [[phashBands]], emitting the four band-key rows the shared
    * at-arrival gate core consumes. */
  private[graft] def phashBandRowsOf(
      images: org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, Array[Byte])]
  ): org.apache.spark.sql.Dataset[(Long, java.sql.Timestamp, String)] = {
    import images.sparkSession.implicits._
    images.mapPartitions { rows =>
      rows.flatMap { case (id, ts, png) =>
        val b = phashBands(png)
        (0 until 4).map(i => (id, ts, s"p$i:${b(i)}"))
      }
    }
  }

  private def imagePhashes(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    imageCorpusIds(spark, sfDir)
      .mapPartitions { rows =>
        rows.map { case (id, base, salt) =>
          val (w, h) = imageDims(base)
          val b      = phashBands(encodePng(base, w, h, salt))
          PhashRow(id, b(0), b(1), b(2), b(3))
        }
      }
      .toDF()
  }

  /** The q178/q179 pair stage over any (doc_id, b0..b3) frame: Hamming-
    * banded candidates (equal on ≥1 of the four 16-bit bands) verified by
    * XOR-popcount over the band keys. The repartition-before-rename /
    * shuffle_hash discipline is q65/q66's: both self-join sides reuse ONE
    * exchange, and band buckets are unbounded at corpus scale so a
    * broadcast would be the wrong plan. */
  private def phashBandPairs(hashes: DataFrame): DataFrame = {
    import hashes.sparkSession.implicits._
    val bands = hashes
      .select(
        $"doc_id",
        $"b0", $"b1", $"b2", $"b3",
        explode(
          transform(
            sequence(lit(0), lit(3)),
            b => struct(
              b.as("band"),
              element_at(array($"b0", $"b1", $"b2", $"b3"), b + 1).as("key")
            )
          )
        ).as("bk")
      )
      .repartition($"bk")
    val a = bands.select($"doc_id".as("id1"), $"b0".as("a0"), $"b1".as("a1"), $"b2".as("a2"), $"b3".as("a3"), $"bk")
    val c = bands.select($"doc_id".as("id2"), $"b0".as("c0"), $"b1".as("c1"), $"b2".as("c2"), $"b3".as("c3"), $"bk".as("bk2"))
    a.hint("shuffle_hash")
      .join(c.hint("shuffle_hash"), $"bk" === $"bk2" && $"id1" < $"id2")
      .dropDuplicates("id1", "id2")
      .select(
        $"id1",
        $"id2",
        (bit_count($"a0".bitwiseXOR($"c0")) + bit_count($"a1".bitwiseXOR($"c1")) +
          bit_count($"a2".bitwiseXOR($"c2")) + bit_count($"a3".bitwiseXOR($"c3")))
          .cast("long")
          .as("hamming")
      )
      .filter($"hamming" <= 6)
  }

  def imagePhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    phashBandPairs(imagePhashes(spark, sfDir)).orderBy($"id1", $"id2")
  }

  /** Declared query (q179): image dedup ENDGAME — the LINEAR-output
    * production path for saturated-duplication image corpora, and the
    * documented answer to q178's dense-corner caveat (a pairwise listing
    * over a corpus where every image repeats n× is O(n²) OUTPUT no matter
    * how good the plan; this is the route that regime takes instead):
    *
    *   1. EXACT-hash collapse first (the q64 discipline on the 64-bit
    *      pHash): one groupBy on the four band keys elects the min-id
    *      representative per distinct hash — the quadratic same-hash mass
    *      never becomes pairs at all;
    *   2. Hamming-banded near-dup pairs among the DISTINCT-hash
    *      representatives only ([[phashBandPairs]] — input bounded by hash
    *      diversity, not corpus size; two distinct hashes differ in ≥1
    *      bit, so the exact-dup class never re-enters);
    *   3. connected components over the representative pair graph (the
    *      q120 endgame discipline, [[Graph.autoComponents]]: driver
    *      union-find in budget, two-phase O(log² n) rounds beyond),
    *      electing the min-id cluster survivor;
    *   4. every image inherits its verdict through its hash group — one
    *      row per image: exact representative, near-dup cluster id,
    *      cluster image mass, and the keep flag.
    *
    * Scale shape: stages 1 and 4 are one shuffle each over the corpus
    * (linear); stages 2-3 operate on distinct hashes only. The DuckDB
    * oracle replays the identical pipeline — closed-form hashes, pivoted
    * group keys, banded rep pairs, recursive-CTE reachability — so the
    * hash compare pins survivor election and component structure, not
    * just counts. */
  def imageDedupEndgame(spark: SparkSession, sfDir: String): DataFrame =
    endgameOver(imagePhashes(spark, sfDir))

  /** The endgame stages over ANY (doc_id, b0..b3) hash frame — shared by
    * q179 (inline-encoded corpus) and q180 (binaryFile-ingested corpus),
    * so the two front doors provably run the identical dedup plan. */
  private def endgameOver(hashesRaw: DataFrame): DataFrame = {
    import hashesRaw.sparkSession.implicits._
    val spark = hashesRaw.sparkSession
    // ONE codec pass total (r20): the repPairs checkpoint fill below and
    // the caller's final action are SEPARATE executions, and AQE exchange
    // reuse does not cross executions — so with a lazy hash table the PNG
    // decode pipeline ran once per action (2× per query; r19 had already
    // cut 3× → 2×). The hash table is the minimal-width corpus map
    // (doc_id + four band longs, ~40 B/row, no payload bytes), so an eager
    // localCheckpoint materializes the codec output exactly once and every
    // consumer — exact-collapse, rep pairs, the per-image verdict join —
    // reads the checkpoint scan. Width-bounded by design (the r19 ADVICE
    // discipline); at the truly-huge corpus rung swap for reliable
    // checkpoint() storage, the fault-tolerance story is the same as the
    // repPairs table below. The checkpoint keeps the codec stage's own
    // partitioning (the spread/binaryFile split), so the decode itself
    // stays as wide as before.
    val hashTbl = hashesRaw.localCheckpoint(true)
    // repartition on the four band keys: BOTH in-plan consumers of the
    // hash table (the exact-collapse groupBy and the final per-image
    // verdict join) key on exactly these columns, so AQE reuses this ONE
    // exchange per action (the q65 repartition-before-consumers
    // discipline; measured 241.4 s → see BASELINE for the post-reuse
    // figure at the 555k-image rung)
    val hashes = hashTbl.repartition($"b0", $"b1", $"b2", $"b3")
    // exact-hash collapse: min-id representative per distinct 64-bit hash
    val groups = hashes
      .groupBy($"b0", $"b1", $"b2", $"b3")
      .agg(min($"doc_id").as("rep_id"), count(lit(1)).as("n_copies"))
    // near-dup pairs among representatives only (hamming 1..6 by
    // construction: distinct groups differ in at least one bit)
    // localCheckpoint, not cache (r19): the CC loop's every action embeds
    // the EDGE PLAN in its logical tree (nodes below derive from it too) —
    // with cache() the execution hits memory but the DRIVER still analyzes
    // the full codec+band-join tree per action, and that planning time
    // dominated the loop (wall far above the sum of job walls). The eager
    // checkpoint truncates the lineage to a scan; blocks are freed by the
    // context cleaner once the (tiny, lineage-free) comp result drops them.
    // The fill runs under size-first AQE coalescing (r20): its post-shuffle
    // stages — band-key groupBy, the rep self-join, dedup — move kilobytes
    // at fixture scale but ran `cores` ~50 ms tasks each under the default
    // parallelism-first mode (the measured r19 residual: 32-task kilobyte
    // stages outside the CC-loop scope). Size-first is scale-adaptive
    // (advisory-sized partitions keep the band join wide when the rep set
    // is large), and the per-row work here is XOR-popcount — byte-
    // proportional, unlike the shingle kernels whose compute-heavy
    // partitions keep the q65/q67 joins parallelism-first. The codec stage
    // itself is immune either way: it rides a REPARTITION_BY_NUM spread
    // (or the binaryFile scan), which AQE never coalesces.
    val repPairs = graft.Session.withSizeFirstCoalescing(spark) {
      phashBandPairs(
        groups.select($"rep_id".as("doc_id"), $"b0", $"b1", $"b2", $"b3")
      ).select($"id1".as("src"), $"id2".as("dst")).localCheckpoint(true)
    }
    // CC nodes come from the CACHED pair endpoints, not from `groups`
    // (r19): passing groups as the node list re-ran the whole codec
    // pipeline once more just to enumerate isolated reps — but an isolated
    // rep is exactly a singleton component, which the left join below
    // reconstructs as coalesce(comp, rep_id) for free (the q120
    // pnodes-from-cached-pairs discipline).
    val pnodes = repPairs
      .select($"src".as("node"))
      .unionByName(repPairs.select($"dst".as("node")))
      .distinct()
    val comp = graft.operators.Graph.autoComponents(pnodes, repPairs)
    val repComp = groups
      .join(comp, $"rep_id" === $"node", "left")
      .select($"b0", $"b1", $"b2", $"b3", $"rep_id", $"n_copies",
        coalesce($"comp", $"rep_id").as("cluster_id"))
    val clusterMass = repComp
      .groupBy($"cluster_id")
      .agg(sum($"n_copies").as("cluster_images"))
    hashes
      .join(repComp, Seq("b0", "b1", "b2", "b3"))
      .join(clusterMass, "cluster_id")
      .select(
        $"doc_id",
        $"rep_id",
        $"cluster_id",
        $"cluster_images",
        ($"doc_id" === $"cluster_id").as("is_kept")
      )
      .orderBy($"doc_id")
  }

  def pngFilePipeline(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = pngDirs.computeIfAbsent(
      sfDir,
      _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_pngs")
        val ids = Tables
          .documents(spark, sfDir)
          .filter($"doc_id" % 53 === 0)
          .select($"doc_id")
          .orderBy($"doc_id")
          .as[Long]
          .head(97) // bounded fixture prep, not a data collect
        ids.foreach { id =>
          val (w, h) = imageDims(id)
          java.nio.file.Files.write(d.resolve(f"img_$id%012d.png"), encodePng(id, w, h, 0L))
        }
        d
      }
    )
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(dir.toString)
      .select(
        regexp_extract($"path", "img_(\\d+)\\.png", 1).cast("long").as("doc_id"),
        $"content"
      )
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (d, png) =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L; var min = 255; var max = 0; var gt = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              var c = 0
              while (c < 3) {
                val v = (rgb >>> (16 - 8 * c)) & 0xff
                sum += v; gt += (if (v > 128) 1 else 0)
                if (v < min) min = v
                if (v > max) max = v
                c += 1
              }
              x += 1
            }
            y += 1
          }
          val n = w.toLong * h * 3
          ImageFeatures(d, w, h, n, sum, min, max, gt, sum * 1000L / n)
        }
      }
      .toDF()
      .orderBy($"doc_id")
  }

  /** Declared query (q180): the image-dedup ENDGAME over the binaryFile
    * FRONT DOOR — the composition q178/q179 only asserted ("at 100 TB the
    * PNG bytes arrive via binaryFile and the same partitions apply
    * unchanged"), now declared and hash-graded (r18 verdict task 3).
    *
    * Fixture prep (the q159 mechanism, bounded and deterministic): a
    * doc-id slice of the q179 corpus — every `doc_id % 3 = 0` document up
    * to 1200, plus the planted near-dup re-encodes (`base % 9 = 0` under
    * +5M ids, pixel salt +1) — is written as REAL PNG FILES, one per
    * image, named by image id only. The query then sees exactly what a
    * production crawl delivers: a directory of opaque `img_<id>.png`.
    *
    * Pipeline: distributed `binaryFile` scan → id parsed from the
    * source's own `path` column → [[phashBands]] over the decoded bytes
    * (the IDENTICAL hashing kernel as q178/q179 — the fixture's encode
    * salt is invisible to the query; perturbation lives in the pixels) →
    * [[endgameOver]], the exact q179 stages. The oracle replays the q179
    * closed form restricted to the same slice, so hash/banding/component
    * structure is pinned end-to-end ACROSS the file boundary: a
    * binaryFile pathology (truncated read, wrong content column, dropped
    * file) breaks the hash compare. Local-mode caveat as q125/q159: the
    * fixture dir is driver-local, which local[32] shares; on a cluster
    * the same `binaryFile` load points at an object store. */
  def imageFileDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val dir = pngDirs.computeIfAbsent(
      sfDir + "#dedup",
      _ => {
        val d = java.nio.file.Files.createTempDirectory("graft_pngs_dedup")
        val ids = Tables
          .documents(spark, sfDir)
          .filter($"doc_id" % 3 === 0)
          .select($"doc_id")
          .orderBy($"doc_id")
          .as[Long]
          .head(1200) // bounded fixture prep, not a data collect
        ids.foreach { base =>
          val (w, h) = imageDims(base)
          java.nio.file.Files.write(d.resolve(f"img_$base%012d.png"), encodePng(base, w, h, 0L))
          if (base % 9 == 0)
            java.nio.file.Files
              .write(d.resolve(f"img_${base + 5000000L}%012d.png"), encodePng(base, w, h, 1L))
        }
        d
      }
    )
    val hashes = spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.png")
      .load(dir.toString)
      .select(
        regexp_extract($"path", "img_(\\d+)\\.png", 1).cast("long").as("doc_id"),
        $"content"
      )
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, png) =>
          val b = phashBands(png)
          PhashRow(id, b(0), b(1), b(2), b(3))
        }
      }
      .toDF()
    endgameOver(hashes)
  }
}
