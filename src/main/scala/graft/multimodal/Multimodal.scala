package graft.multimodal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.tables.Tables
import graft.util.SessionMemo

/** Multimodal column design (SURVEY.md §2 B.10 "multimodal columns").
  *
  * Media is carried as an opaque envelope struct; bytes stay
  * columnar-binary and the typed metadata travels next to them:
  *
  *   STRUCT<uri: string, mime: string, bytes: binary,
  *          meta: map<string,string>>
  *
  * At 100 TB the `bytes` field is kept out-of-line for large assets
  * (uri + content hash in-line, bytes resolved at the consumer) so
  * shuffle rows stay small — here testdata has no media, so envelopes
  * are synthesized from document text. Image decode/resample
  * ([[decodeImage]]/[[resizeImage]] via javax.imageio) and audio
  * decode ([[decodeAudio]] via javax.sound.sampled) are REAL
  * encode→decode round-trips, and video frame extraction
  * ([[sampleVideoFrames]]) does real stride-seeks and per-frame PNG
  * decodes over an MJPEG-style container (custom documented envelope
  * — the JDK ships no standard video codec, so only standard-codec
  * PARSING is absent; [[frameSampleStub]] keeps the arithmetic-only
  * stub for comparison). The Spark-side plumbing — schema, batch
  * iteration, partition-parallel decode — is real and tested
  * throughout.
  */
object Multimodal {

  val envelopeType: StructType = StructType(Seq(
    StructField("uri", StringType, nullable = false),
    StructField("mime", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = false)))

  /** Wrap documents into media envelopes (bytes = utf-8 text). */
  def envelopes(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      struct(
        concat(lit("doc://"), col("doc_id")).as("uri"),
        lit("text/plain").as("mime"),
        col("text").cast("binary").as("bytes"),
        map(lit("lang"), col("lang"), lit("source"), col("source")).as("meta"))
        .as("media"))

  /** Deterministic in-container PNG for a document: dims derive from
    * the payload length exactly like the stub formula (w = 64+n%64,
    * h = 64+(n/64)%64) and every pixel carries the same doc-keyed RGB
    * (r = id%256, g = (id/256)%256, b = id%7), so a LOSSLESS decode of
    * the bytes must reproduce both the measured dims and the color —
    * an oracle-checkable real decode. Encoded with javax.imageio,
    * which ships in java.desktop and is headless-safe (probed in this
    * JDK: PNG + JPEG writers present). */
  private[graft] def pngFor(docId: Long, nBytes: Int): Array[Byte] = {
    val w = 64 + (nBytes % 64)
    val h = 64 + ((nBytes / 64) % 64)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = ((docId % 256) << 16 | (docId / 256) % 256 << 8 | docId % 7).toInt
    val g = img.createGraphics()
    try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) }
    finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Session-memoized encoded-image corpus (doc_id, n_bytes, png) —
    * the synthesized fixture stands in for the STORED media corpus
    * that [[decodeImage]] (q_mm_decode) and [[resizeImage]]
    * (q_mm_resize) read. Blobs are constant-color PNGs (~300 B
    * deflated), so the checkpointed corpus stays small. */
  def pngCorpus(s: SparkSession, d: String): DataFrame =
    SessionMemo.of(s, s"pngCorpus:$d") {
      import s.implicits._
      // repartition the 2-long-column scan BEFORE the CPU-bound encode:
      // the corpus is one parquet file → one input partition, which
      // would serialize every imageio encode onto a single core (the
      // r6 bench-outlier root cause for the mm_* family). The shuffle
      // moves 16 bytes/row; the encode it parallelizes costs ~10⁴×.
      Tables.documents(s, d)
        .select(col("doc_id"), octet_length(col("text")).as("n"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[(Long, Int)]
        .mapPartitions(rows => rows.map { case (id, n) => (id, n, pngFor(id, n)) })
        .toDF("doc_id", "n_bytes", "png")
    }

  /** REAL image decode (r6, VERDICT #5): decode the corpus's PNG
    * bytes with javax.imageio and report MEASURED width/height/bands
    * plus the decoded corner pixel's channels. Every output value
    * passes through a real PNG encode→decode round-trip; the oracle's
    * closed-form expectations (dim formula + doc-keyed color) only
    * hold if the decode actually works. Partition-parallel
    * mapPartitions — the exact shape a real media decoder runs in. */
  def decodeImage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pngCorpus(s, d)
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, n, png) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          val px = img.getRGB(img.getWidth - 1, img.getHeight - 1)
          (id, n, img.getWidth, img.getHeight, img.getRaster.getNumBands,
            (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
        }
      }
      .toDF("doc_id", "n_bytes", "width", "height", "channels",
        "px_r", "px_g", "px_b")
  }

  /** REAL aspect-preserving resample (r6): decode the deterministic
    * PNG, fit into maxW x maxH via Graphics2D bilinear drawImage, and
    * report the resampled image's MEASURED dims plus its center
    * pixel — bilinear resample of a constant-color source must
    * preserve the color exactly, so the oracle checks real pixel
    * work, not just geometry. */
  def resizeImage(s: SparkSession, d: String, maxW: Int, maxH: Int): DataFrame = {
    import s.implicits._
    pngCorpus(s, d)
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, _, png) =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(png))
          val (w, h) = (img.getWidth, img.getHeight)
          val scale = math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
          val (ow, oh) = (math.floor(w * scale).toInt, math.floor(h * scale).toInt)
          val out = new java.awt.image.BufferedImage(
            ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, ow, oh, null)
          } finally g.dispose()
          val px = out.getRGB(ow / 2, oh / 2)
          (id, w, h, out.getWidth, out.getHeight,
            (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
        }
      }
      .toDF("doc_id", "width", "height", "out_w", "out_h",
        "px_r", "px_g", "px_b")
  }

  /** Deterministic in-container WAV for a document (r6, the audio
    * analog of [[pngFor]]): PCM16 mono 8 kHz, frame count derived
    * from the payload length (256 + n % 1024), samples a doc-keyed
    * square wave (amplitude 1000 + id % 30000, period 16 frames,
    * starting at +amp) — so a LOSSLESS decode must reproduce the
    * format, the measured frame count, the first sample, and the
    * peak. Encoded with javax.sound.sampled (java.desktop,
    * headless-safe — no audio device needed for file I/O). */
  private[graft] def wavFor(docId: Long, nBytes: Int): Array[Byte] = {
    val nFrames = 256 + (nBytes % 1024)
    val amp = (docId % 30000).toInt + 1000
    val data = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val v = if ((i / 8) % 2 == 0) amp else -amp
      data(2 * i) = (v & 0xff).toByte // little-endian PCM16
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL audio decode (r6): synthesize the deterministic WAV bytes
    * per document executor-side, parse them with
    * javax.sound.sampled.AudioSystem, and report the MEASURED format
    * (rate/channels/bits), frame count, first sample and full-stream
    * peak — every value passes through a real WAV encode→decode
    * round-trip, so the oracle's closed forms only hold if the
    * container parse and PCM decode actually work. Only VIDEO decode
    * remains stubbed ([[frameSampleStub]]) — the JDK has no video
    * codec. */
  def decodeAudio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // single-file scan → repartition before the CPU-bound WAV decode
    // (see pngCorpus)
    Tables.documents(s, d)
      .select(col("doc_id"), octet_length(col("text")).as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .mapPartitions { it =>
        it.map { case (id, n) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(wavFor(id, n)))
          val fmt = ais.getFormat
          val frames = ais.getFrameLength
          val buf = new Array[Byte](4096)
          var first = Integer.MIN_VALUE
          var peak = 0
          var r = ais.read(buf)
          while (r > 0) {
            var j = 0
            while (j + 1 < r) {
              val v = (((buf(j + 1) & 0xff) << 8) | (buf(j) & 0xff)).toShort.toInt
              if (first == Integer.MIN_VALUE) first = v
              if (math.abs(v) > peak) peak = math.abs(v)
              j += 2
            }
            r = ais.read(buf)
          }
          (id, n, fmt.getSampleRate.toInt, fmt.getChannels,
            fmt.getSampleSizeInBits, frames, first, peak)
        }
      }
      .toDF("doc_id", "n_bytes", "sample_rate", "channels", "bits",
        "n_frames", "first_sample", "peak")
  }

  /** STUB decode, kept deliberately beside the REAL paths
    * ([[decodeImage]] imageio PNG, [[decodeAudio]] sampled-audio WAV,
    * [[sampleVideoFrames]] container frame extraction): this is the
    * arithmetic-only shape a deployment plugs a standard-codec
    * library into (mp4/webm parsing is the one thing the JDK cannot
    * do). The fake is deterministic in the payload so tests pin exact
    * values, and it runs partition-parallel over the binary column
    * exactly like the real decoders beside it (mapPartitions shape,
    * no driver collect).
    */
  def decodeStub(s: SparkSession, d: String): DataFrame = {
    val env = envelopes(s, d)
    import s.implicits._
    val decoded = env.select(col("doc_id"), col("media.bytes").as("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          // a standard-codec decode plugs in here; deterministic fake:
          val n = if (bytes == null) 0 else bytes.length
          val fakeWidth = 64 + (n % 64)
          val fakeHeight = 64 + ((n / 64) % 64)
          val channels = 3
          (id, n, fakeWidth, fakeHeight, channels)
        }
      }
      .toDF("doc_id", "n_bytes", "width", "height", "channels")
    decoded
  }

  /** Deterministic in-container "video" for a document (r6, the video
    * analog of [[pngFor]]/[[wavFor]]): an MJPEG-style frame container
    * — [4-byte BE length][PNG frame bytes] repeated — holding
    * 1 + n % 8 real 8×8 PNG frames whose fill color is keyed on
    * (docId, frameIdx): r = (id + idx) % 256, g = idx·31 % 256,
    * b = id % 5. The container format is CUSTOM and documented (the
    * JDK ships no standard video codec); the frames inside are real
    * PNGs, so frame extraction must do real seeks and real decodes. */
  private[graft] def videoFor(docId: Long, nBytes: Int): Array[Byte] = {
    val nFrames = 1 + (nBytes % 8)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rgb = ((((docId + f) % 256) << 16) |
        ((f * 31 % 256) << 8) | (docId % 5)).toInt
      val g = img.createGraphics()
      try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, 8, 8) }
      finally g.dispose()
      val frame = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", frame)
      val bytes = frame.toByteArray
      out.writeInt(bytes.length)
      out.write(bytes)
      f += 1
    }
    out.flush()
    bos.toByteArray
  }

  /** REAL video frame-sample (r6): parse the MJPEG-style container,
    * STRIDE-SEEK to every-nth frame (skipped frames are skipped by
    * their length prefix — never decoded, the exact I/O shape of
    * seeking keyframes in a real container), imageio-decode ONLY the
    * sampled frames, and report measured dims + the decoded center
    * pixel per sampled frame. One output row per sampled frame,
    * partition-parallel. */
  def sampleVideoFrames(s: SparkSession, d: String, everyNth: Int,
                        maxFrames: Int): DataFrame = {
    import s.implicits._
    // single-file scan → repartition before the CPU-bound container
    // synthesis + frame decode (see pngCorpus)
    Tables.documents(s, d)
      .select(col("doc_id"), octet_length(col("text")).as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .mapPartitions { it =>
        it.flatMap { case (id, n) =>
          val container = videoFor(id, n)
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(container))
          val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Int, Int, Int, Int, Int)]
          var idx = 0
          var sampled = 0
          while (in.available() > 0 && sampled < maxFrames) {
            val len = in.readInt()
            if (idx % everyNth == 0) {
              val bytes = new Array[Byte](len)
              in.readFully(bytes)
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(bytes))
              val px = img.getRGB(img.getWidth / 2, img.getHeight / 2)
              frames += ((id, idx, img.getWidth, img.getHeight,
                (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff))
              sampled += 1
            } else {
              in.skipBytes(len) // stride seek: skipped frames never decode
            }
            idx += 1
          }
          frames
        }
      }
      .toDF("doc_id", "frame_idx", "width", "height", "px_r", "px_g", "px_b")
  }

  /** Deterministic PATTERNED PNG for perceptual-hash work (the
    * [[pngFor]] constant-color fixture is degenerate under a DCT):
    * a 64×64 grayscale interference pattern keyed on
    * base = docId − docId % 2, so every even/odd doc pair shares a
    * base image; odd docs overlay a ±8 pixel-level checkerboard — a
    * pure Nyquist-frequency perturbation that is VISIBLE in the
    * bytes (the PNGs differ) but cancels exactly under pHash's 2×2
    * average pooling: precisely the high-frequency-noise invariance
    * pHash exists to provide. The base range [16, 239] keeps the
    * overlay clamp-free, so the cancellation (and hence intra-pair
    * hamming 0, pinned in R7OpsSpec) is exact; different bases
    * produce unrelated patterns (hamming ≈ 32). */
  private[graft] def patternPngFor(docId: Long): Array[Byte] = {
    val base = docId - (docId % 2)
    val fa = (base * 7919 % 251 + 3).toInt
    val fb = (base * 104729 % 241 + 5).toInt
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val odd = docId % 2 == 1
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        var g = 16 + (((x * fa + y * fb + ((x * y) & 31)) % 224 + 224) % 224)
        if (odd) g += (if (((x + y) & 1) == 0) 8 else -8)
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit DCT perceptual hash of a decoded image (the standard
    * pHash recipe): grayscale → 32×32 average-pool → 2-D DCT-II →
    * keep the 8×8 low-frequency block → bit = coefficient > median.
    * Pure JVM double math — deterministic on identical pixel input. */
  private[graft] def phash64(img: java.awt.image.BufferedImage): Long = {
    val N = 32
    val px = Array.ofDim[Double](N, N)
    // per-cell pool bounds ⌊k·dim/N⌋..⌊(k+1)·dim/N⌋, widened to ≥1 px:
    // identical to the fixed-stride pool when dim is a multiple of N
    // (all current fixtures are 64×64) and safe for arbitrary sizes —
    // a < 32 px dimension used to yield stride 0 and divide-by-zero
    val iw = img.getWidth; val ih = img.getHeight
    var y = 0
    while (y < N) {
      val y0 = y * ih / N; val y1 = math.max(y0 + 1, (y + 1) * ih / N)
      var x = 0
      while (x < N) {
        val x0 = x * iw / N; val x1 = math.max(x0 + 1, (x + 1) * iw / N)
        var s = 0L; var dy = y0
        while (dy < y1) {
          var dx = x0
          while (dx < x1) {
            s += img.getRGB(dx, dy) & 0xff; dx += 1
          }
          dy += 1
        }
        px(y)(x) = s.toDouble / ((x1 - x0).toLong * (y1 - y0)); x += 1
      }
      y += 1
    }
    val c = Array.ofDim[Double](8, 8)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0.0; var yy = 0
        while (yy < N) {
          var xx = 0
          while (xx < N) {
            acc += px(yy)(xx) *
              math.cos(math.Pi * (2 * xx + 1) * u / (2.0 * N)) *
              math.cos(math.Pi * (2 * yy + 1) * v / (2.0 * N))
            xx += 1
          }
          yy += 1
        }
        c(u)(v) = acc; v += 1
      }
      u += 1
    }
    val flat = c.flatten
    val sorted = flat.sorted
    val median = (sorted(31) + sorted(32)) / 2.0
    var h = 0L; var i = 0
    while (i < 64) { if (flat(i) > median) h |= 1L << i; i += 1 }
    h
  }

  /** Whole-image pixel statistics over the REAL decode of the
    * patterned fixtures: mean gray in exact integer units, distinct
    * gray levels, min/max, and the gray-histogram entropy µ-snapped —
    * every pixel of the decoded raster contributes, so the closed-form
    * oracle (the same stats recomputed from the generator formula in
    * SQL) proves the PNG round-trip is faithful across the WHOLE
    * image, not just a probe pixel. The ODD (checkerboard-overlaid)
    * images are excluded: their stats are decode-provable too, but
    * keeping the oracle to the base formula keeps the SQL honest. */
  def imageStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(col("doc_id"))
      .filter(col("doc_id") % 2 === 0)
      .repartition(s.sparkContext.defaultParallelism)
      .as[Long]
      .mapPartitions(_.map { id =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(patternPngFor(id)))
        val hist = new Array[Long](256)
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val g = img.getRGB(x, y) & 0xff
            hist(g) += 1; sum += g; x += 1
          }
          y += 1
        }
        val n = img.getWidth.toLong * img.getHeight
        var distinct = 0; var mn = 255; var mx = 0
        var entU = 0L
        var g = 0
        while (g < 256) {
          if (hist(g) > 0) {
            distinct += 1
            if (g < mn) mn = g
            if (g > mx) mx = g
            val p = hist(g).toDouble / n
            // HALF_UP to match DuckDB ROUND on the positive terms
            entU += math.floor(-p * math.log(p) * 1e6 + 0.5).toLong
          }
          g += 1
        }
        (id, n, sum, distinct, mn, mx, entU / 1e6)
      })
      .toDF("doc_id", "n_px", "gray_sum", "n_levels", "g_min", "g_max",
        "entropy")
  }

  /** Session-memoized (doc_id, phash) table read by q_mm_phash: encode
    * the patterned PNG, DECODE it back with imageio (the real-decode
    * contract of this layer), and hash the decoded pixels.
    * Partition-parallel; repartitioned before the CPU-bound
    * encode+decode+DCT (see [[pngCorpus]]). */
  def imagePhash(s: SparkSession, d: String): DataFrame =
    SessionMemo.of(s, s"imagePhash:$d") {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id"))
        .repartition(s.sparkContext.defaultParallelism)
        .as[Long]
        .mapPartitions(_.map { id =>
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(patternPngFor(id)))
          (id, phash64(img))
        })
        .toDF("doc_id", "phash")
    }

  /** Deterministic VAD WAV (the [[wavFor]] analog with SILENCE):
    * PCM16 mono 8 kHz, 256 + n % 1024 samples, 80-sample segments;
    * segment w is voiced iff (docId + w) % 3 ≠ 0 (square wave of
    * doc-keyed amplitude ≥ 1000), silent otherwise (exact zeros) —
    * so energy-threshold VAD at a global cut of 500 recovers the
    * segment pattern exactly, and the oracle can compute every
    * statistic in closed form from (doc_id, strlen(text)). */
  private[graft] def vadWavFor(docId: Long, nBytes: Int): Array[Byte] = {
    val nFrames = 256 + (nBytes % 1024)
    val amp = (docId % 30000).toInt + 1000
    val data = new Array[Byte](nFrames * 2)
    var i = 0
    while (i < nFrames) {
      val voiced = (docId + i / 80) % 3 != 0
      val v = if (!voiced) 0 else if ((i / 8) % 2 == 0) amp else -amp
      data(2 * i) = (v & 0xff).toByte
      data(2 * i + 1) = ((v >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** REAL energy-threshold voice-activity detection: parse the WAV
    * with javax.sound.sampled, frame the MEASURED samples into
    * 80-sample windows (10 ms at 8 kHz), mark a window active when
    * its mean |amplitude| exceeds the global 500 cut, and report the
    * per-document activity profile (count, ratio, longest run,
    * first/last active window — the segmentation stats a speech-data
    * curation pass keys on). Incomplete tail windows are dropped
    * (standard framing). Partition-parallel decode. */
  def voiceActivity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(col("doc_id"), octet_length(col("text")).as("n"))
      .repartition(s.sparkContext.defaultParallelism)
      .as[(Long, Int)]
      .mapPartitions(_.map { case (id, n) =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(vadWavFor(id, n)))
        val all = ais.readAllBytes()
        val nSamples = all.length / 2
        val w = nSamples / 80
        var first = -1; var last = -1; var active = 0
        var run = 0; var longest = 0
        var wi = 0
        while (wi < w) {
          var s0 = 0L; var j = 0
          while (j < 80) {
            val k = (wi * 80 + j) * 2
            val v = (((all(k + 1) & 0xff) << 8) | (all(k) & 0xff)).toShort.toInt
            s0 += math.abs(v); j += 1
          }
          if (s0 / 80.0 > 500.0) {
            active += 1; run += 1
            if (run > longest) longest = run
            if (first < 0) first = wi
            last = wi
          } else run = 0
          wi += 1
        }
        (id, nSamples, w, active,
          math.rint(active.toDouble / w * 1e6) / 1e6, longest, first, last)
      })
      .toDF("doc_id", "n_samples", "n_windows", "n_active",
        "voice_ratio", "longest_run", "first_active", "last_active")
  }

  /** STUB frame-sample: every-nth-frame selection for a video payload.
    * Frame count is derived deterministically from the payload length
    * (stub); the selection arithmetic (frame indices at a stride, cap
    * at maxFrames) is the real pipeline logic and is fully columnar —
    * one output row per sampled frame via explode, never a driver
    * loop. */
  def frameSampleStub(s: SparkSession, d: String, everyNth: Int, maxFrames: Int): DataFrame = {
    val sc = decodeStub(s, d)
    sc.withColumn("n_frames", (col("n_bytes") % 240 + 1).cast("int"))
      .withColumn("frame_idx",
        explode(slice(sequence(lit(0), col("n_frames") - 1, lit(everyNth)), 1, maxFrames)))
      .select("doc_id", "n_frames", "frame_idx")
  }
}
