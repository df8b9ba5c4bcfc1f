package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Decode output: real header/pixel-derived values for BMP/PPM payloads,
  * deterministic fake for formats with no pure-JVM codec here. */
case class DecodedMedia(
    id: Long,
    width: Int,
    height: Int,
    channels: Int,
    brightness: Double)

/** Decoded-audio row: header facts + signal stats (see [[Wav]]);
  * `decoded=false` marks payloads the parser rejected. */
case class DecodedAudio(
    id: Long,
    decoded: Boolean,
    sample_rate: Int,
    channels: Int,
    bits: Int,
    n_frames: Long,
    duration_ms: Double,
    rms: Double,
    peak: Double,
    clip_frac: Double)

/** Parsed video-container row (see [[Video]]); `decoded=false` marks
  * payloads neither container parser accepted. */
case class DecodedVideo(
    id: Long,
    decoded: Boolean,
    container: String,
    brand: String,
    duration_ms: Double,
    n_tracks: Int)

/**
 * Multimodal column handling for training-data pipelines: image/audio/
 * video payloads ride as opaque `binary` columns with typed metadata, so
 * they shuffle/partition like any other column and Parquet stores them
 * page-compressed.
 *
 * Design for 100 TB: metadata and frame-sampling are pure Column
 * expressions (codegen, no serialization boundary); only the codec-bound
 * decode step drops to typed `mapPartitions`, which is the Scala analogue
 * of `mapInPandas` — batch-iterator in, batch-iterator out, one invocation
 * per partition, constant memory. The decode kernel here is a clearly
 * marked STUB (this container has no imaging libraries); the plumbing —
 * schema, encoders, partition-parallel iteration — is real and tested.
 */
object Multimodal {

  /** Typed metadata for an opaque media payload: byte length, content
    * digest (dedup/caching key), and the 4-byte magic prefix as hex
    * (format sniffing: JPEG FFD8FFE0, PNG 89504E47, ...). */
  def metadata(bin: Column): Column = struct(
    length(bin).cast("long").as("byte_len"),
    md5(bin).as("md5"),
    hex(substring(bin, 1, 4)).as("magic"))

  /** Fixed-size frame slices of a binary payload, keeping every
    * `every`-th frame — the frame-sampling pattern for video/audio
    * payloads, as an expression (array of {frame_idx, bytes} structs).
    * The last frame may be short. */
  def sampleFrames(bin: Column, frameSize: Int, every: Int): Column = {
    val nFrames = ceil(length(bin).cast("double") / frameSize).cast("int")
    val idx = filter(
      when(nFrames > 0, sequence(lit(0), nFrames - 1))
        .otherwise(array().cast("array<int>")),
      i => i % every === 0)
    transform(idx, i => struct(
      i.as("frame_idx"),
      substring_index_bytes(bin, i, frameSize).as("bytes")))
  }

  private def substring_index_bytes(bin: Column, i: Column, size: Int): Column =
    bin.substr(i * size + 1, lit(size))

  /** Explode sampled frames to one row per kept frame with a digest —
    * the shuffle-able unit for downstream frame-level work. */
  def frameRows(df: DataFrame, binCol: String, idCol: String,
      frameSize: Int = 64, every: Int = 4): DataFrame =
    df.select(col(idCol),
      explode(sampleFrames(col(binCol), frameSize, every)).as("f"))
      .select(col(idCol), col("f.frame_idx").as("frame_idx"),
        md5(col("f.bytes")).as("frame_md5"))

  /**
   * Decode media payloads via typed mapPartitions (the mapInPandas-shaped
   * batch path). BMP (24/32-bpp) and binary PPM payloads are decoded by
   * the pure-JVM parsers ([[Bmp]]/[[Ppm]]); PNG/GIF/JPEG go through the
   * JDK's built-in `javax.imageio` ([[ImageIoCodec]] — no external
   * library). All of these are REAL: dimensions from the decoded raster,
   * brightness from actual pixel values. Formats outside that set
   * (WebP/video/audio codecs not in the JRE) fall back to the
   * deterministic stub below; swap it for a codec without touching the
   * plumbing.
   */
  def decodeImages(df: DataFrame, binCol: String,
      idCol: String): Dataset[DecodedMedia] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) => decodeOne(id, bytes) })
  }

  /**
   * Decode audio payloads via the same typed-mapPartitions shape as
   * [[decodeImages]]: RIFF/WAVE PCM through the pure-JVM [[Wav]] parser
   * (duration, RMS, peak, digital-clip fraction from actual samples).
   * Non-WAV or corrupt payloads degrade per row to a zeroed row with
   * `decoded=false` rather than failing the task.
   */
  def decodeAudio(df: DataFrame, binCol: String,
      idCol: String): Dataset[DecodedAudio] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val info =
          try Wav.decode(bytes)
          catch { case scala.util.control.NonFatal(_) => None }
        info match {
          case Some(w) => DecodedAudio(id, decoded = true, w.sampleRate,
            w.channels, w.bitsPerSample, w.nFrames, w.durationMs, w.rms,
            w.peak, w.clipFrac)
          case None =>
            DecodedAudio(id, decoded = false, 0, 0, 0, 0L, 0.0, 0.0, 0.0, 0.0)
        }
      })
  }

  /**
   * Parse video-container METADATA (MP4 box-walk / RIFF-AVI header —
   * [[Video]]) via the same typed-mapPartitions shape: duration and
   * track count without decoding frames, which is what corpus
   * filtering/bucketing needs at 100 TB (frame DECODE stays behind the
   * [[sampleFrames]]/codec boundary). Corrupt or non-video payloads
   * degrade per row with `decoded=false`.
   */
  def decodeVideoMeta(df: DataFrame, binCol: String,
      idCol: String): Dataset[DecodedVideo] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val meta =
          try Video.decode(bytes)
          catch { case scala.util.control.NonFatal(_) => None }
        meta match {
          case Some(v) => DecodedVideo(id, decoded = true, v.container,
            v.brand, v.durationMs, v.nTracks)
          case None => DecodedVideo(id, decoded = false, "", "", 0.0, 0)
        }
      })
  }

  /**
   * Per-image 64-bit perceptual fingerprint ([[Dhash.dhash64]]) via the
   * same typed-mapPartitions shape as [[decodeImages]] — decode to a
   * luminance raster, hash, emit (doc_id, dhash). Undecodable payloads
   * get NO fingerprint row (the simhash convention for token-less
   * documents). This is the map side of image dedup: one codegen-
   * friendly pass, no shuffle until pairing.
   */
  def imageDhash(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(binCol), col(idCol).cast("long"))
      .as[(Array[Byte], Long)]
      .mapPartitions(_.flatMap { case (bytes, id) =>
        Dhash.decodePixels(bytes).map(p =>
          (id, Dhash.dhash64(p.width, p.height, p.lum)))
      })
      .toDF("doc_id", "dhash")
  }

  /**
   * Near-duplicate image pairs: dHash fingerprints paired through the
   * SAME wide-key Hamming banding as text simhash
   * ([[graft.dedup.TextDedup.hammingPairsWide]], 16-bit chunks for the
   * 64-bit hash) — exact pigeonhole recall for maxDist ≤ 3, candidate
   * selectivity on distinct fingerprints, output (doc_a, doc_b,
   * hamming). The multimodal analogue of text near-dup dedup: a
   * re-encoded / slightly-edited image moves a few gradient bits, not
   * the whole hash.
   */
  def imageDedupPairs(df: DataFrame, binCol: String, idCol: String,
      maxDist: Int = 2): DataFrame =
    graft.dedup.TextDedup.hammingPairsWide(
      imageDhash(df, binCol, idCol), "doc_id", "dhash",
      maxDist, chunkBits = 16)

  /**
   * Near-duplicate VIDEO pairs — the fourth modality of the dedup
   * column. A video's fingerprint is its SET of sampled-frame digests
   * ([[frameRows]]: every `every`-th `frameSize`-byte frame, md5 — the
   * classic frame-signature approach: a re-muxed / partially-extended
   * copy shares most frame content), hashed to 8-byte keys and paired
   * through the SAME df-capped inverted-index + exact-Jaccard core as
   * text shingles ([[graft.dedup.TextDedup.setJaccardPairs]]). Output
   * (doc_a, doc_b, jaccard), exact over the full digest sets.
   *
   * Scale shape: one map-side frame explode + hash agg per video, then
   * the shared candidates-first core — shuffles carry 8-byte digest
   * hashes, the df cap bounds intro/outro boilerplate frames shared by
   * thousands of videos, and verification touches candidates only.
   */
  def videoDedupPairs(df: DataFrame, binCol: String, idCol: String,
      frameSize: Int = 64, every: Int = 4, threshold: Double = 0.8,
      maxDfFrac: Double = 0.01, maxDfFloor: Long = 100L): DataFrame = {
    val sets = graft.operators.Materialized(
      frameRows(df, binCol, idCol, frameSize, every)
        .groupBy(col(idCol).as("doc_id"))
        .agg(collect_set(
          graft.dedup.TextDedup.strHash(col("frame_md5"))).as("hs")))
    graft.dedup.TextDedup.setJaccardPairs(sets, threshold, maxDfFrac,
      maxDfFloor)
  }

  /**
   * Per-image 64-bit DCT perceptual fingerprint ([[Phash.phash64]]) —
   * the frequency-domain complement to [[imageDhash]], same
   * typed-mapPartitions map side, same no-fingerprint convention for
   * undecodable payloads.
   */
  def imagePhash(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(binCol), col(idCol).cast("long"))
      .as[(Array[Byte], Long)]
      .mapPartitions(_.flatMap { case (bytes, id) =>
        Dhash.decodePixels(bytes).map(p =>
          (id, Phash.phash64(p.width, p.height, p.lum)))
      })
      .toDF("doc_id", "phash")
  }

  /** Near-duplicate image pairs on the pHash fingerprint, through the
    * same wide-key Hamming banding as every other 64-bit fingerprint
    * family (exact pigeonhole recall for maxDist ≤ 3). */
  def imagePhashDedupPairs(df: DataFrame, binCol: String, idCol: String,
      maxDist: Int = 2): DataFrame =
    graft.dedup.TextDedup.hammingPairsWide(
      imagePhash(df, binCol, idCol), "doc_id", "phash",
      maxDist, chunkBits = 16)

  /**
   * Orientation-canonical pHash ([[Phash.dihedral64]]): same decode map
   * side as [[imagePhash]], but the fingerprint is EXACTLY invariant
   * under 90°-multiple rotations and mirror flips — a rotated upload of
   * a crawled image collides at Hamming 0 instead of missing entirely
   * (orientation edits break both plain perceptual hashes; see the
   * transform matrix in docs/API.md). Output: doc_id, phash.
   */
  def imagePhashDihedral(df: DataFrame, binCol: String,
      idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(binCol), col(idCol).cast("long"))
      .as[(Array[Byte], Long)]
      .mapPartitions(_.flatMap { case (bytes, id) =>
        Dhash.decodePixels(bytes).map(p =>
          (id, Phash.dihedral64(p.width, p.height, p.lum)))
      })
      .toDF("doc_id", "phash")
  }

  /** Near-duplicate image pairs on the orientation-canonical pHash —
    * the banding kernel is unchanged (one 64-bit key per image); only
    * the fingerprint got orientation-invariant. */
  def imagePhashDedupPairsDihedral(df: DataFrame, binCol: String,
      idCol: String, maxDist: Int = 2): DataFrame =
    graft.dedup.TextDedup.hammingPairsWide(
      imagePhashDihedral(df, binCol, idCol), "doc_id", "phash",
      maxDist, chunkBits = 16)

  /**
   * Per-clip 64-bit audio fingerprint ([[AudioFingerprint]]) via typed
   * mapPartitions: WAV decode → integer PCM → banded envelope hash.
   * Undecodable or empty clips get no fingerprint row.
   */
  def audioFingerprint(df: DataFrame, binCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(binCol), col(idCol).cast("long"))
      .as[(Array[Byte], Long)]
      .mapPartitions(_.flatMap { case (bytes, id) =>
        (try Wav.decodeSamples(bytes)
         catch { case scala.util.control.NonFatal(_) => None })
          .flatMap(w => AudioFingerprint.fingerprint64(w.samples))
          .map(fp => (id, fp))
      })
      .toDF("doc_id", "afp")
  }

  /** Near-duplicate audio pairs: envelope fingerprints through the same
    * wide-key Hamming banding as image dHash and text simhash. */
  def audioDedupPairs(df: DataFrame, binCol: String, idCol: String,
      maxDist: Int = 2): DataFrame =
    graft.dedup.TextDedup.hammingPairsWide(
      audioFingerprint(df, binCol, idCol), "doc_id", "afp",
      maxDist, chunkBits = 16)

  /**
   * Per-clip WINDOWED audio fingerprints
   * ([[AudioFingerprint.windowedFingerprints]]): one row per
   * (clip, window offset) — the shift-tolerant index. Output:
   * (doc_id, win, afp).
   */
  def audioWindowedFingerprints(df: DataFrame, binCol: String,
      idCol: String, window: Int = 64, hop: Int = 16,
      silenceEps: Int = -1): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(binCol), col(idCol).cast("long"))
      .as[(Array[Byte], Long)]
      .mapPartitions(_.flatMap { case (bytes, id) =>
        (try Wav.decodeSamples(bytes)
         catch { case scala.util.control.NonFatal(_) => None })
          .toSeq.flatMap { w =>
            // silenceEps >= 0 trims leading/trailing near-silence first
            // (AudioFingerprint.trimSilence) so ARBITRARY-offset
            // silence-padded copies window identically; -1 preserves
            // the positional hop-multiple-only semantics
            val s = if (silenceEps >= 0)
              AudioFingerprint.trimSilence(w.samples, silenceEps)
            else w.samples
            AudioFingerprint.windowedFingerprints(s, window, hop)
          }
          .map { case (win, fp) => (id, win, fp) }
      })
      .toDF("doc_id", "win", "afp")
  }

  /**
   * SHIFT-TOLERANT near-duplicate audio pairs: clips match when ANY of
   * their overlapping-window fingerprints collide within Hamming
   * `maxDist` — a time-shifted copy (silence prefix, trimmed intro)
   * reproduces whole windows of the original and collides at Hamming 0,
   * where the positional whole-clip hash ([[audioDedupPairs]]) misses
   * it entirely. Same wide-key banding core over DISTINCT window
   * fingerprints; output (doc_a, doc_b, hamming) with hamming = the
   * best (minimum) window collision per pair.
   */
  def audioDedupPairsShifted(df: DataFrame, binCol: String, idCol: String,
      maxDist: Int = 2, window: Int = 64, hop: Int = 16): DataFrame =
    graft.dedup.TextDedup.hammingPairsWide(
      audioWindowedFingerprints(df, binCol, idCol, window, hop),
      "doc_id", "afp", maxDist, chunkBits = 16)
      .groupBy("doc_a", "doc_b")
      .agg(min(col("hamming")).as("hamming"))

  /**
   * ALIGNMENT-FREE near-duplicate audio pairs: [[audioDedupPairsShifted]]
   * with leading/trailing near-silence stripped before windowing
   * ([[AudioFingerprint.trimSilence]], eps one 8-bit quantization
   * step). Closes the hop-granularity gap of the windowed formulation:
   * a copy delayed by ANY amount of silence (hop multiple or not)
   * reduces to the same trimmed signal and collides at Hamming 0, and
   * a 16→8-bit re-encoded copy — amplitudes floored to 256-multiples —
   * keeps the gain-invariant energy/zero-crossing trend bits and trims
   * at the same boundaries, colliding within `maxDist`.
   */
  def audioDedupPairsAligned(df: DataFrame, binCol: String, idCol: String,
      maxDist: Int = 2, window: Int = 64, hop: Int = 16,
      silenceEps: Int = 255): DataFrame =
    graft.dedup.TextDedup.hammingPairsWide(
      audioWindowedFingerprints(df, binCol, idCol, window, hop, silenceEps),
      "doc_id", "afp", maxDist, chunkBits = 16)
      .groupBy("doc_a", "doc_b")
      .agg(min(col("hamming")).as("hamming"))

  /** Video twin of [[imageDedupEdges]]: the sampled-frame digest sets
    * through [[graft.dedup.TextDedup.setJaccardEdges]] — identical-set
    * stars + one verified bridge per distinct-set pair, linear in
    * videos where the pair frame is quadratic in dup-group size. */
  def videoDedupEdges(df: DataFrame, binCol: String, idCol: String,
      frameSize: Int = 64, every: Int = 4, threshold: Double = 0.8,
      maxDfFrac: Double = 0.01, maxDfFloor: Long = 100L): DataFrame = {
    val sets = frameRows(df, binCol, idCol, frameSize, every)
      .groupBy(col(idCol).as("doc_id"))
      .agg(collect_set(
        graft.dedup.TextDedup.strHash(col("frame_md5"))).as("hs"))
    graft.dedup.TextDedup.setJaccardEdges(sets, threshold, maxDfFrac,
      maxDfFloor)
  }

  /** Connectivity-equivalent EDGE frame over precomputed image dHash
    * fingerprints ([[imageDhash]] output) — star edges within
    * identical-fingerprint groups plus one bridge per qualifying
    * distinct-fingerprint pair ([[graft.dedup.TextDedup.hammingEdgesWide]]),
    * linear in documents where the pair frame is quadratic in dup-group
    * size. Feed this (not the pair frame) to ConnectedComponents for
    * corpus end states. */
  def imageDedupEdges(fingerprints: DataFrame, maxDist: Int = 2): DataFrame =
    graft.dedup.TextDedup.hammingEdgesWide(
      fingerprints, "doc_id", "dhash", maxDist, chunkBits = 16)

  /** Audio twin of [[imageDedupEdges]] over [[audioFingerprint]] output. */
  def audioDedupEdges(fingerprints: DataFrame, maxDist: Int = 2): DataFrame =
    graft.dedup.TextDedup.hammingEdgesWide(
      fingerprints, "doc_id", "afp", maxDist, chunkBits = 16)

  private[graft] def decodeOne(id: Long, bytes: Array[Byte]): DecodedMedia = {
    val b = if (bytes == null) Array.empty[Byte] else bytes
    // One corrupt blob must degrade to the stub row, not fail the task:
    // codec bugs on adversarial headers become per-row fallbacks here.
    val decoded =
      try Bmp.decode(b).orElse(Ppm.decode(b)).orElse(ImageIoCodec.decode(b))
      catch { case scala.util.control.NonFatal(_) => None }
    decoded match {
      case Some(r) =>
        DecodedMedia(id, r.width, r.height, r.channels, r.brightness)
      case None => fallbackStub(id, b)
    }
  }

  /** Deterministic real-PNG payload from a document: the same pixel
    * content as [[syntheticBmp]] but encoded through the JDK PNG writer —
    * exercises the [[ImageIoCodec]] decode path end-to-end. */
  def syntheticPng(id: Long, text: String): Array[Byte] = {
    val t = if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
    val width = 16
    val height = math.max(1, math.min(64, (t.length + width * 3 - 1) / (width * 3)))
    val img = new java.awt.image.BufferedImage(width, height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var i = 0
    while (i < width * height * 3) {
      val v = (if (i < t.length) t(i) else ((id + i) % 251).toByte) & 0xff
      val p = i / 3
      val shift = 8 * (2 - i % 3) // byte order r, g, b like the BMP twin
      img.setRGB(p % width, p / width,
        img.getRGB(p % width, p / width) | (v << shift))
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** STUB for codec-bound formats: deterministic fake dimensions from the
    * header bytes, brightness = mean of the first 256 bytes. */
  private def fallbackStub(id: Long, b: Array[Byte]): DecodedMedia = {
    val h = java.util.Arrays.hashCode(b.take(16))
    val head = b.take(256)
    val brightness =
      if (head.isEmpty) 0.0
      else head.map(x => (x & 0xff).toDouble).sum / head.length / 255.0
    DecodedMedia(
      id = id,
      width = 64 + math.floorMod(h, 1024),
      height = 64 + math.floorMod(h >> 10, 1024),
      channels = 3,
      brightness = brightness)
  }

  /** Deterministic real-BMP payload from a document: text bytes become
    * the pixel data of a 16-wide 24-bpp image (padded with the doc id).
    * The demo's stand-in for an actual image column — the ENCODER and the
    * decode path are both real; only the pixel content is synthetic. */
  def syntheticBmp(id: Long, text: String): Array[Byte] = {
    val t = if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
    val width = 16
    val height = math.max(1, math.min(64, (t.length + width * 3 - 1) / (width * 3)))
    val rgb = new Array[Byte](width * height * 3)
    var i = 0
    while (i < rgb.length) {
      rgb(i) = if (i < t.length) t(i) else ((id + i) % 251).toByte
      i += 1
    }
    Bmp.encode(width, height, rgb)
  }

  /** The `t`-th dihedral transform of the [[syntheticBmp]] payload — a
    * REAL BMP whose decoded raster is the rotated/flipped original,
    * pixel for pixel. The demo's stand-in for an orientation-edited
    * upload of an already-crawled image. */
  def syntheticBmpTransformed(id: Long, text: String, t: Int): Array[Byte] = {
    require(t >= 0 && t < Dihedral.Count, s"transform must be 0..7, got $t")
    val bytes = syntheticBmp(id, text)
    val p = Dhash.bmpPixels(bytes).getOrElse(
      sys.error("syntheticBmp must decode"))
    // rebuild the RGB plane in transformed order from the same
    // deterministic formula the base payload used
    val tb = if (text == null) Array.empty[Byte] else text.getBytes("UTF-8")
    def rgbAt(i: Int): Byte = if (i < tb.length) tb(i) else ((id + i) % 251).toByte
    val (w, h) = (p.width, p.height)
    val (wt, ht) = if (Dihedral.swaps(t)) (h, w) else (w, h)
    val out = new Array[Byte](wt * ht * 3)
    var y = 0
    while (y < ht) {
      var x = 0
      while (x < wt) {
        val src = Dihedral.srcIndex(t, w, h, x, y)
        var c = 0
        while (c < 3) {
          out(3 * (y * wt + x) + c) = rgbAt(3 * src + c)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    Bmp.encode(wt, ht, out)
  }
}
