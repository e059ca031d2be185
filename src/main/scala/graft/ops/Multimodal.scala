package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2.11): image/audio/video as
  * opaque `binary` columns with typed metadata alongside.
  *
  * The Spark-side machinery here is real — binary columns, typed
  * `Dataset[T]` with case-class encoders, `mapPartitions` batch-shaped
  * decode, frame sampling via array ops. Decode is real across all three
  * modalities, pure JDK: [[ImageIoDecode]] reads true dimensions/format
  * from PNG/JPEG/GIF/BMP headers via `javax.imageio`, [[AudioDecode]]
  * reads frame/channel counts from WAV/AIFF/AU via `javax.sound.sampled`,
  * and [[VideoDecode]] parses the MJPEG-in-AVI RIFF container (header
  * metadata + real per-frame JPEG payloads via [[videoFrames]]).
  * [[FakeDecode]] remains as the clearly-marked deterministic stand-in
  * for codecs the JDK lacks (H.264, MP3, …); swapping in a JNI/javacv
  * call changes nothing else. The
  * registered oracle queries use FakeDecode so DuckDB can replay the
  * metadata byte-exactly; ImageIoDecode is gated by the same contract
  * spec plus real generated-image tests.
  *
  * Scale notes: binary payloads dominate row size → keep them out of
  * shuffles (derive metadata early, project blobs away before wide ops);
  * `mapPartitions` amortizes decoder init per partition, the same shape a
  * Python `mapInPandas` batch UDF has.
  */
object Multimodal {

  final case class MediaRecord(doc_id: Long, media: Array[Byte])
  final case class MediaMeta(
      doc_id: Long,
      n_bytes: Long,
      head_code: Int,
      fake_width: Int,
      fake_height: Int,
      format_tag: String
  )

  /** The decoder CONTRACT any real media backend must satisfy (the
    * swap-in point for a javacv/ffmpeg implementation). Requirements,
    * enforced by MediaDecoderContractSpec against every implementation:
    *  - total: never throws, for empty and single-byte payloads included;
    *  - deterministic: equal bytes → equal metadata (no wall clock, no
    *    RNG), so results are reproducible across executors and retries;
    *  - positive dimensions whenever the payload is non-empty, 0 only for
    *    empty payloads;
    *  - non-empty format tag.
    * Implementations must be Serializable: the decoder ships to executors
    * inside the mapPartitions closure.
    */
  trait MediaDecoder extends Serializable {
    /** (width, height, formatTag) for a payload. */
    def decode(bytes: Array[Byte]): (Int, Int, String)
  }

  /** STUB — deterministic fake decode standing in for a real image/audio
    * decoder (none available in this environment). Metadata is a pure
    * function of the payload bytes so tests and oracles are reproducible.
    * Swapping in a real `MediaDecoder` changes nothing else in the
    * pipeline; it must pass the same contract spec.
    */
  object FakeDecode extends MediaDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, String) = {
      val w = if (bytes.nonEmpty) ((bytes(0) & 0xff) % 64) + 1 else 0
      val h = if (bytes.length > 1) ((bytes(1) & 0xff) % 64) + 1 else 0
      val tag = if (bytes.length % 2 == 0) "imgA" else "imgB"
      (w, h, tag)
    }
  }

  /** REAL image decoder over the JDK's built-in `javax.imageio` — no
    * external libraries. Decodable payloads (PNG/JPEG/GIF/BMP — whatever
    * the JVM's registered ImageReaders handle) return their true pixel
    * dimensions and format name; undecodable bytes fall back to the same
    * deterministic byte-derived pseudo-metadata as [[FakeDecode]] with an
    * `undecodable` tag, keeping the decoder total and
    * contract-compliant (positive dims for non-empty payloads).
    * Audio/video remain env-blocked (no codec libraries in the JVM) —
    * they stay behind the same seam.
    */
  object ImageIoDecode extends MediaDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, String) = {
      if (bytes.isEmpty) return (0, 0, "empty")
      try {
        val in = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(in)
          if (readers.hasNext) {
            val r = readers.next()
            try {
              r.setInput(in)
              // header-only read: width/height/format come from the
              // image header without decoding pixel data — this is the
              // metadata-extraction fast path a 100 TB scan wants
              (r.getWidth(0), r.getHeight(0), r.getFormatName.toLowerCase)
            } finally r.dispose()
          } else fallback(bytes)
        } finally if (in != null) in.close()
      } catch { case _: Exception => fallback(bytes) }
    }

    private def fallback(bytes: Array[Byte]): (Int, Int, String) = {
      val (w, h, _) = FakeDecode.decode(bytes)
      (w, h, "undecodable")
    }
  }

  /** REAL audio decoder over the JDK's built-in `javax.sound.sampled` —
    * no external libraries. Decodable payloads (WAV/AIFF/AU — the JVM's
    * registered AudioFileReaders) return (frameLength, channels,
    * formatType) from the file header alone; undecodable bytes fall back
    * like [[ImageIoDecode]]. Width carries the frame count and height the
    * channel count — the two integers a sampling/segmentation pipeline
    * partitions on. See [[VideoDecode]] for the video counterpart.
    */
  object AudioDecode extends MediaDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, String) = {
      if (bytes.isEmpty) return (0, 0, "empty")
      try {
        val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
          new java.io.ByteArrayInputStream(bytes))
        val frames = aff.getFrameLength
        val channels = aff.getFormat.getChannels
        (if (frames > 0) frames else 1,
          if (channels > 0) channels else 1,
          aff.getType.toString.toLowerCase)
      } catch {
        case _: Exception =>
          val (w, h, _) = FakeDecode.decode(bytes)
          (w, h, "undecodable")
      }
    }
  }

  /** REAL video container decoder for MJPEG-in-AVI, pure JDK — no codec
    * libraries. AVI is a RIFF container (public Microsoft "AVI RIFF File
    * Reference"); the main header chunk (`avih`) carries
    * dwWidth/dwHeight/dwTotalFrames, and every frame of an MJPEG video
    * stream is a standalone JPEG inside a `00dc`/`00db` chunk under the
    * `movi` LIST — each decodable by the JDK's ImageIO JPEG reader.
    * `decode` reads the container header only (the metadata fast path);
    * [[videoFrames]] walks the movi list and yields the real per-frame
    * JPEG payloads. The format tag is `avi-<handler>` from the video
    * stream header (e.g. `avi-mjpg`). Non-AVI bytes fall back like the
    * other decoders. Scope: frames directly under `movi` (no `rec ` sub
    * lists, no OpenDML extended indexes) — the shape [[synthAvi]] writes
    * and the common single-stream MJPEG layout.
    */
  object VideoDecode extends MediaDecoder {
    def decode(bytes: Array[Byte]): (Int, Int, String) =
      aviMeta(bytes) match {
        case Some((w, h, _, handler)) if w > 0 && h > 0 =>
          (w, h, s"avi-$handler")
        case _ =>
          if (bytes.isEmpty) (0, 0, "empty")
          else {
            val (w, h, _) = FakeDecode.decode(bytes)
            (w, h, "undecodable")
          }
      }

    /** (width, height, totalFrames, streamHandler) from the `avih` +
      * `strh` headers, or None when the payload is not a RIFF/AVI.
      */
    def aviMeta(bytes: Array[Byte]): Option[(Int, Int, Int, String)] = {
      if (bytes.length < 24 || fcc(bytes, 0) != "RIFF" || fcc(bytes, 8) != "AVI ")
        return None
      var w, h, n = 0
      var handler = "none"
      // every read below is bounds-guarded: a truncated/hostile header
      // whose declared sizes overrun the payload must degrade to None,
      // never throw (the decoder contract is totality)
      def walk(from: Int, to: Int): Unit = {
        var pos = from
        while (pos + 8 <= to) {
          val id = fcc(bytes, pos)
          // declared sizes are untrusted: clamp to the real remainder
          val size = math.min(u32(bytes, pos + 4), (to - pos - 8).toLong).toInt
          val payload = pos + 8
          if (id == "LIST" && size >= 4) {
            val listType = fcc(bytes, payload)
            // only header lists matter here; movi (frame data) is skipped
            if (listType == "hdrl" || listType == "strl")
              walk(payload + 4, payload + size)
          } else if (id == "avih" && size >= 40) {
            n = u32(bytes, payload + 16).toInt
            w = u32(bytes, payload + 32).toInt
            h = u32(bytes, payload + 36).toInt
          } else if (id == "strh" && size >= 8 && fcc(bytes, payload) == "vids") {
            handler = fcc(bytes, payload + 4).trim.toLowerCase
          }
          pos = payload + math.max(size, 0) + (size & 1) // chunks pad to even
        }
      }
      walk(12, bytes.length)
      if (w > 0 || h > 0 || n > 0) Some((w, h, n, handler)) else None
    }
  }

  /** Per-frame JPEG payloads of an MJPEG AVI, in stream order (the
    * `00dc`/`00db` chunks under the `movi` LIST). Empty for non-AVI
    * bytes. Each element feeds [[ImageIoDecode]] (or any JPEG consumer)
    * unchanged.
    */
  def videoFrames(bytes: Array[Byte]): Seq[Array[Byte]] = {
    if (bytes.length < 24 || fcc(bytes, 0) != "RIFF" || fcc(bytes, 8) != "AVI ")
      return Nil
    val out = Seq.newBuilder[Array[Byte]]
    var pos = 12
    while (pos + 8 <= bytes.length) {
      val id = fcc(bytes, pos)
      // untrusted declared size: clamp to the real remainder (totality)
      val size = math.min(u32(bytes, pos + 4), (bytes.length - pos - 8).toLong).toInt
      val payload = pos + 8
      if (id == "LIST" && size >= 4 && fcc(bytes, payload) == "movi") {
        var fp = payload + 4
        val end = payload + size
        while (fp + 8 <= end) {
          val fid = fcc(bytes, fp)
          val fsize = math.min(u32(bytes, fp + 4), (end - fp - 8).toLong).toInt
          if (fid.endsWith("dc") || fid.endsWith("db"))
            out += java.util.Arrays.copyOfRange(bytes, fp + 8, fp + 8 + fsize)
          fp = fp + 8 + math.max(fsize, 0) + (fsize & 1)
        }
      }
      pos = payload + math.max(size, 0) + (size & 1)
    }
    out.result()
  }

  private def fcc(b: Array[Byte], off: Int): String =
    new String(b, off, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  private def u32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** Deterministic real MJPEG AVI of `nFrames` JPEG frames at w×h — the
    * video counterpart of [[synthPng]]/[[synthWav]], composed chunk by
    * chunk (RIFF → hdrl(avih, strl(strh, strf)) → movi(00dc…)) with the
    * JDK's ImageIO JPEG encoder for the frame payloads. Pixels are a pure
    * function of (position, frame), so equal (w, h, nFrames) → equal
    * structure on every executor; frame DIMENSIONS (what the decode path
    * asserts) are exact regardless of JPEG's lossy pixel round-trip.
    */
  def synthAvi(w: Int, h: Int, nFrames: Int): Array[Byte] = {
    def le32(v: Long): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def tag(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val pad = if (payload.length % 2 == 1) Array(0.toByte) else Array.empty[Byte]
      tag(id) ++ le32(payload.length.toLong) ++ payload ++ pad
    }
    def list(listType: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", tag(listType) ++ payload)

    def jpegFrame(i: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, (x * 31 + y * 7 + i * 131) & 0xffffff); x += 1 }
        y += 1
      }
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    }

    // avih: 56 bytes — µs/frame, maxBytesPerSec, padding, flags, TOTAL
    // FRAMES, initialFrames, streams, sugBufSize, WIDTH, HEIGHT, 4×reserved
    val avih = le32(40000L) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(nFrames.toLong) ++ le32(0) ++ le32(1) ++ le32(0) ++
      le32(w.toLong) ++ le32(h.toLong) ++ Array.fill(16)(0.toByte)
    // strh: 56 bytes — fccType 'vids', handler 'MJPG', …, scale=1 rate=25,
    // length=nFrames, quality=-1, rcFrame as 4×u16
    val strh = tag("vids") ++ tag("MJPG") ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(1) ++ le32(25) ++ le32(0) ++ le32(nFrames.toLong) ++ le32(0) ++
      le32(0xffffffffL) ++ le32(0) ++
      Array(0, 0, 0, 0).map(_.toByte) ++
      le32(((h.toLong << 16) | w.toLong)) // rc right/bottom packed u16 pairs
    // strf: BITMAPINFOHEADER, 40 bytes, biCompression = 'MJPG'
    val strf = le32(40) ++ le32(w.toLong) ++ le32(h.toLong) ++
      Array(1, 0).map(_.toByte) ++ Array(24, 0).map(_.toByte) ++ tag("MJPG") ++
      le32(w.toLong * h * 3) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0)
    val hdrl = list("hdrl",
      chunk("avih", avih) ++ list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val movi = list("movi",
      (0 until nFrames).map(i => chunk("00dc", jpegFrame(i))).foldLeft(Array.empty[Byte])(_ ++ _))
    val body = tag("AVI ") ++ hdrl ++ movi
    tag("RIFF") ++ le32(body.length.toLong) ++ body
  }

  /** Deterministic real PNG payload of exactly w×h pixels, written with
    * the JDK's ImageIO encoder. Pixels are a pure function of position, so
    * equal (w, h) → equal bytes on every executor — the synthetic fixture
    * that lets the REAL header decode path run inside the oracle gate
    * (expected dims are known arithmetic, see `mm_decode_real`).
    */
  def synthPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff); x += 1 }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Difference-hash geometry shared by [[synthCellPng]], [[dHash56]]
    * and the `mm_phash_dedup` oracle: a 9-column × 7-row cell grid of
    * 4×4-pixel cells (36×28 images), 8 left-to-right brightness
    * comparisons per row → a 56-bit hash (fits a non-negative BIGINT on
    * both engines, so band shifts and XOR need no sign care).
    */
  val DHashCellCols = 9
  val DHashCellRows = 7
  val DHashCellPx = 4

  /** The deterministic per-cell gray value of the planted dHash fixture:
    * a CUBIC-residue pattern (v = k³ mod 251 over a per-grid linear k —
    * a LINEAR modular pattern is monotone within rows, so every image's
    * dHash degenerates to near-all-ones and "unrelated" images read as
    * near-dups; measured far-pair Hamming ~8 of 56 before the cube, ≥17
    * after). `variant` 1 of an EVEN group perturbs three cells of row 2
    * only (a NEAR duplicate — every band except row 2's stays identical,
    * Hamming ≤ 6); `variant` 1 of an ODD group remixes rows and columns
    * differently (a far image — never survives the ≤12 verify). All
    * intermediates bounded (k < 251 ⇒ k³ < 1.6e7), so the DuckDB oracle
    * replays the arithmetic verbatim in BIGINT.
    */
  def dHashCellValue(grp: Long, variant: Long, ci: Int, cj: Int): Int = {
    val k =
      if (variant == 1 && grp % 2 == 1) (grp * 95 + ci * 31 + cj * 5 + 17) % 251
      else (grp * 63 + ci * 9 + cj) % 251
    val v = (k * k * k % 251).toInt
    if (variant == 1 && grp % 2 == 0 && ci == 2 && cj % 3 == 1) (v + 60) % 251 else v
  }

  /** Real PNG whose 4×4 cells are uniform gray [[dHashCellValue]]s —
    * the [[synthPng]] recipe shaped for the perceptual-hash gate: the
    * decode side reads true pixels back through ImageIO, and because
    * every cell is uniform the decoded cell sums equal 48·v exactly
    * (16 px × 3 channels), so the oracle predicts the hash with pure
    * arithmetic.
    */
  def synthCellPng(grp: Long, variant: Long): Array[Byte] = {
    val w = DHashCellCols * DHashCellPx
    val h = DHashCellRows * DHashCellPx
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var ci = 0
    while (ci < DHashCellRows) {
      var cj = 0
      while (cj < DHashCellCols) {
        val v = dHashCellValue(grp, variant, ci, cj)
        val rgb = (v << 16) | (v << 8) | v
        var y = ci * DHashCellPx
        while (y < (ci + 1) * DHashCellPx) {
          var x = cj * DHashCellPx
          while (x < (cj + 1) * DHashCellPx) { img.setRGB(x, y, rgb); x += 1 }
          y += 1
        }
        cj += 1
      }
      ci += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** 56-bit difference hash over a decoded image: integer luminance sums
    * (r+g+b per pixel — no division, no floats) over the fixed
    * [[DHashCellRows]]×[[DHashCellCols]] grid, bit (ci·8 + j) set iff
    * cell j+1 of row ci is strictly brighter than cell j. The REAL
    * decode path: pixels come from ImageIO, not from the generator
    * formula.
    */
  def dHash56(png: Array[Byte]): Long = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val sums = Array.ofDim[Long](DHashCellRows, DHashCellCols)
    var ci = 0
    while (ci < DHashCellRows) {
      var cj = 0
      while (cj < DHashCellCols) {
        var s = 0L
        var y = ci * DHashCellPx
        while (y < (ci + 1) * DHashCellPx) {
          var x = cj * DHashCellPx
          while (x < (cj + 1) * DHashCellPx) {
            val rgb = img.getRGB(x, y)
            s += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        sums(ci)(cj) = s
        cj += 1
      }
      ci += 1
    }
    var h = 0L
    ci = 0
    while (ci < DHashCellRows) {
      var j = 0
      while (j < DHashCellCols - 1) {
        if (sums(ci)(j + 1) > sums(ci)(j)) h |= 1L << (ci * 8 + j)
        j += 1
      }
      ci += 1
    }
    h
  }

  /** Hamming-band recipe over 56-bit dHashes: [[PhashBands]] bands of
    * [[PhashBandBits]] bits, shared by `mm_phash_dedup` and
    * `mm_audio_dedup`. Its planted-pair tail recall per Hamming distance
    * is committed in `bench/r19_phash_band_recall.txt` and pinned by
    * `PhashBandSpec`.
    */
  val PhashBands = 4
  val PhashBandBits = 14

  /** Banded candidate pairs from a `(doc_id, dhash)` frame: explode each
    * hash into [[PhashBands]] 14-bit band keys, self-join per
    * (band, key) bucket, `id_a < id_b`, distinct. NEVER all-pairs —
    * candidate volume is Σ_buckets |bucket|², linear for hash-diverse
    * corpora (16384 buckets/band).
    *
    * Completeness bound (pigeonhole): a pair is GUARANTEED a candidate
    * only for Hamming ≤ [[PhashBands]] − 1 = 3; larger radii are found
    * iff some band is untouched. See the `mm_phash_dedup` registry note
    * for why raising the guarantee to the verify radius (≤ 12) is a
    * scale anti-pattern (≥13 bands of ≤4 bits → O(n²/16) candidates).
    */
  def dhashBandCandidates(hashes: DataFrame): DataFrame =
    fpBandCandidates(hashes, "dhash")

  /** The Hamming-band candidate recipe over ANY ≤56-bit fingerprint
    * column — shared by the image (dHash) and audio (energy-delta)
    * near-dup operators; see [[dhashBandCandidates]] for the
    * completeness bound discussion.
    */
  def fpBandCandidates(hashes: DataFrame, fpCol: String): DataFrame = {
    val bands = hashes.select(
      col("doc_id"),
      explode(expr(s"sequence(0, ${PhashBands - 1})")).as("band"),
      col(fpCol).as("__fp"))
      .select(
        col("doc_id"), col("band"),
        expr(s"shiftrightunsigned(__fp, band * $PhashBandBits) & ${(1 << PhashBandBits) - 1}")
          .as("bkey"))
    bands.select(col("doc_id").as("id_a"), col("band"), col("bkey"))
      .join(bands.select(col("doc_id").as("id_b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Audio fingerprint geometry shared by [[synthToneWav]],
    * [[audioFp56]] and the `mm_audio_dedup` oracle: 57 windows of 16
    * mono 16-bit PCM frames (912-frame clips), bit w set iff window
    * w+1's amplitude sum is strictly greater than window w's — the
    * sign-of-delta-energy fingerprint, 56 bits (non-negative BIGINT on
    * both engines, same band shifts as the image dHash).
    */
  val AudioFpWindows = 57
  val AudioFpWinFrames = 16

  /** The deterministic per-window amplitude of the planted audio
    * fixture — the 1-D twin of [[dHashCellValue]] (same cubic-residue
    * recipe, same bounded-integer oracle replay): `variant` 1 of an
    * EVEN group perturbs windows {3, 22, 41} only (a NEAR duplicate —
    * ≤ 6 fingerprint bits move, confined to bands 0–2, so band 3
    * guarantees the candidate); `variant` 1 of an ODD group remixes the
    * whole envelope (a far clip — never survives the ≤ 12 verify).
    */
  def audioWindowAmp(grp: Long, variant: Long, w: Int): Int = {
    val k =
      if (variant == 1 && grp % 2 == 1) (grp * 95 + w * 37 + 17) % 251
      else (grp * 63 + w * 11) % 251
    val v = (k * k * k % 251).toInt
    if (variant == 1 && grp % 2 == 0 && w % 19 == 3) (v + 60) % 251 else v
  }

  /** Real WAV whose 16-frame windows hold the constant sample value
    * [[audioWindowAmp]] — the audio counterpart of [[synthCellPng]]:
    * the decode side reads true PCM back through `javax.sound.sampled`,
    * and because every window is constant the decoded window sums equal
    * 16·amp exactly, so the oracle predicts the fingerprint with pure
    * arithmetic.
    */
  def synthToneWav(grp: Long, variant: Long): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val frames = AudioFpWindows * AudioFpWinFrames
    val fmt = new AudioFormat(8000f, 16, 1, true, false) // mono 16-bit LE
    val data = new Array[Byte](frames * 2)
    var w = 0
    while (w < AudioFpWindows) {
      val a = audioWindowAmp(grp, variant, w)
      var i = w * AudioFpWinFrames
      while (i < (w + 1) * AudioFpWinFrames) {
        data(2 * i) = (a & 0xff).toByte
        data(2 * i + 1) = ((a >> 8) & 0xff).toByte
        i += 1
      }
      w += 1
    }
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** 56-bit sign-of-delta-energy fingerprint over a decoded WAV clip:
    * 16-bit LE PCM samples summed per [[AudioFpWinFrames]]-frame window
    * (integer sums — no floats), bit w set iff window w+1's sum is
    * strictly greater than window w's. The REAL decode path: samples
    * come back through `javax.sound.sampled`, not the generator formula.
    * Clips shorter than the geometry leave missing windows at sum 0.
    */
  def audioFp56(wav: Array[Byte]): Long = {
    import javax.sound.sampled.AudioSystem
    val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(wav))
    val bytes = ais.readAllBytes()
    ais.close()
    val sums = new Array[Long](AudioFpWindows)
    val nSamples = math.min(bytes.length / 2, AudioFpWindows * AudioFpWinFrames)
    var i = 0
    while (i < nSamples) {
      val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort.toLong
      sums(i / AudioFpWinFrames) += s
      i += 1
    }
    var h = 0L
    var w = 0
    while (w < AudioFpWindows - 1) {
      if (sums(w + 1) > sums(w)) h |= 1L << w
      w += 1
    }
    h
  }

  /** Deterministic real WAV payload with exactly `frames` frames of
    * `channels`-channel 16-bit PCM silence (JDK `javax.sound.sampled`
    * writer) — the audio counterpart of [[synthPng]].
    */
  def synthWav(frames: Int, channels: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(8000f, 16, channels, true, false)
    val data = new Array[Byte](frames * fmt.getFrameSize)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Attach a binary media column. On the fixtures the document text bytes
    * stand in for an image payload; in production this is the raw blob
    * column of the table.
    */
  def withBinary(df: DataFrame, textCol: String, binCol: String = "media"): DataFrame =
    df.withColumn(binCol, encode(col(textCol), "UTF-8"))

  /** Batch decode: partition-at-a-time over a typed Dataset — decoder init
    * happens once per partition (the mapInPandas batch shape). The decoder
    * is injected; FakeDecode is the environment-forced default.
    */
  def extractMeta(
      spark: SparkSession,
      records: Dataset[MediaRecord],
      decoder: MediaDecoder = FakeDecode
  ): Dataset[MediaMeta] = {
    import spark.implicits._
    records.mapPartitions { it =>
      // per-partition decoder init would go here
      it.map { r =>
        val (w, h, tag) = decoder.decode(r.media)
        MediaMeta(
          doc_id = r.doc_id,
          n_bytes = r.media.length.toLong,
          head_code = if (r.media.nonEmpty) r.media(0) & 0xff else -1,
          fake_width = w,
          fake_height = h,
          format_tag = tag
        )
      }
    }
  }

  /** Metadata via pure Catalyst expressions where possible (stays inside
    * whole-stage codegen; preferred over mapPartitions for anything
    * expressible). head_code = first byte as unsigned int.
    */
  def metaColumns(df: DataFrame, idCol: String, binCol: String): DataFrame =
    df.select(
      col(idCol),
      length(col(binCol)).as("n_bytes"),
      // true first BYTE as unsigned int (hex of the 1-byte slice) —
      // casting binary to string and taking ascii() would decode UTF-8
      // and disagree with FakeDecode's bytes(0) & 0xff on non-ASCII
      when(
        length(col(binCol)) > 0,
        conv(hex(substring(col(binCol), 1, 1)), 16, 10).cast("int")
      ).otherwise(-1).as("head_code")
    )

  /** Frame sampling: every `stride`-th byte as a "frame" (index + payload
    * sample) — the explode/posexplode plumbing a real video frame-sampler
    * uses, with the frame decode stubbed to a byte read.
    */
  def sampleFrames(df: DataFrame, idCol: String, binCol: String, stride: Int): DataFrame = {
    // floor division: Spark's `/` on ints yields double
    val nFrames = floor((length(col(binCol)) + stride - 1) / lit(stride)).cast("int")
    df.select(
      col(idCol),
      when(nFrames > 0, sequence(lit(0), nFrames - 1)).otherwise(array().cast("array<int>")).as("fidx")
    )
      .select(col(idCol), explode(col("fidx")).as("frame_idx"))
      .withColumn("frame_offset", col("frame_idx") * stride)
  }
}
