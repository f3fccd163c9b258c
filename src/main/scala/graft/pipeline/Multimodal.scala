package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: opaque binary payloads + typed metadata, processed in
  * partition-sized batches through a typed Dataset pipeline.
  *
  * REAL decode paths for every format: P6/PPM and RIFF/WAV (pure-JVM header
  * parsers), PNG/JPEG/BMP via the JDK's `javax.imageio.ImageIO` codecs, and
  * MP4 via a recursive ISO-BMFF box-tree walker ([[decodeMp4]] — container/
  * track/frame-size layer; the codec BITSTREAM inside the frames has no JVM
  * decoder, and no output depends on it). [[features]]' `decodeStub` remains
  * only as the generic plumbing demo — binary column, case-class schema,
  * mapPartitions batch shape — with deterministic pseudo-features.
  */
object Multimodal {

  /** ImageIO's default `useCache=true` stages every read/write through a
    * disk-backed temp file — per-record filesystem churn inside executor
    * tasks, and a hard failure if the executor temp dir is unwritable. The
    * flag is a static JVM field, so set it at each codec call site (cheap
    * boolean write), which guarantees it lands in every executor JVM that
    * deserializes a decode closure — not just the driver. */
  @inline private def imageIOInMemory(): Unit =
    javax.imageio.ImageIO.setUseCache(false)

  final case class MMRecord(doc_id: Long, mime: String, payload: Array[Byte])
  final case class MMFeature(doc_id: Long, n_bytes: Long, width: Int, height: Int,
      channels: Int, n_frames: Int)

  /** Build a binary-payload frame from the documents table (text bytes stand in for
    * media bytes; schema/partitioning identical to a real media table). */
  def records(spark: SparkSession, dir: String): Dataset[MMRecord] = {
    import spark.implicits._
    TextStats.docs(spark, dir)
      .select(col("doc_id"), lit("application/octet-stream").as("mime"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MMRecord]
  }

  /** STUB decoder — the generic plumbing demo only; every real format has a
    * real path ([[decodePpm]], [[decodeWav]], [[decodeImage]],
    * [[decodeMp4]]). A codec-bitstream pixel decoder would slot in here,
    * once per record, reusing per-partition decoder state. Deterministic
    * pseudo-features keep the pipeline testable without one.
    */
  private def decodeStub(r: MMRecord): MMFeature = {
    val n = r.payload.length.toLong
    MMFeature(r.doc_id, n,
      width = (64 + n % 576).toInt,
      height = (64 + (n * 7) % 576).toInt,
      channels = 3,
      n_frames = (1 + r.doc_id % 5).toInt)
  }

  /** Batch decode / feature-extract over partition iterators (the mapPartitions
    * shape lets a real codec amortize init cost per partition). */
  def features(spark: SparkSession, dir: String): Dataset[MMFeature] = {
    import spark.implicits._
    records(spark, dir).mapPartitions { it =>
      // per-partition decoder init would happen here
      it.map(decodeStub)
    }
  }

  final case class MMImage(doc_id: Long, width: Int, height: Int,
      channels: Int, mean_px: Double)

  /** Build a VALID binary P6 (PPM) image per document: dimensions derived
    * from the row, pixel bytes cycled from the text bytes. Unlike the
    * codec-format records above, these payloads are really decodable. */
  def ppmRecords(spark: SparkSession, dir: String): Dataset[MMRecord] = {
    import spark.implicits._
    val gen = udf { (docId: Long, text: String) =>
      val tb = text.getBytes("UTF-8")
      val w = (4 + tb.length % 12).toInt
      val h = (3 + docId % 5).toInt
      val header = s"P6\n$w $h\n255\n".getBytes("US-ASCII")
      val body = Array.tabulate(w * h * 3)(i => tb(i % tb.length))
      header ++ body
    }
    TextStats.docs(spark, dir)
      .select(col("doc_id"), lit("image/x-portable-pixmap").as("mime"),
        gen(col("doc_id"), col("text")).as("payload"))
      .as[MMRecord]
  }

  /** REAL P6/PPM decoder — pure JVM, no codec library: parses the ASCII
    * header (magic, dimensions, maxval) and computes pixel statistics from
    * the raster body. Dimensions come from the PAYLOAD, not from metadata —
    * this is the actual decode step of the multimodal path for a format the
    * sandbox can decode; jpeg/mp4 stay behind [[features]]' documented stub. */
  def decodePpm(docId: Long, payload: Array[Byte]): MMImage = {
    val s = new String(payload, 0, math.min(payload.length, 32), "US-ASCII")
    require(s.startsWith("P6\n"), "not a P6 PPM")
    val nl2 = s.indexOf('\n', 3)
    val nl3 = s.indexOf('\n', nl2 + 1)
    val Array(w, h) = s.substring(3, nl2).split(" ").map(_.toInt)
    val maxval = s.substring(nl2 + 1, nl3).toInt
    require(maxval == 255, s"unsupported maxval $maxval")
    val off = nl3 + 1
    val n = w * h * 3
    require(payload.length == off + n, "truncated raster")
    var sum = 0L
    var i = 0
    while (i < n) { sum += payload(off + i) & 0xFF; i += 1 }
    MMImage(docId, w, h, 3,
      BigDecimal(sum.toDouble / n).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  /** Batch REAL decode over partition iterators (same mapPartitions shape as
    * [[features]], but the decoder actually reads the bytes). */
  def ppmFeatures(spark: SparkSession, dir: String): Dataset[MMImage] = {
    import spark.implicits._
    ppmRecords(spark, dir).mapPartitions(_.map(r => decodePpm(r.doc_id, r.payload)))
  }

  final case class MMAudio(doc_id: Long, sample_rate: Int, n_samples: Long,
      duration_ms: Long, mean_amp: Double)

  /** Build a VALID RIFF/WAVE payload per document: mono unsigned-8-bit PCM at
    * 8 kHz, samples cycled from the text bytes. Really decodable, like
    * [[ppmRecords]]. */
  def wavRecords(spark: SparkSession, dir: String): Dataset[MMRecord] = {
    import spark.implicits._
    val gen = udf { (docId: Long, text: String) =>
      val tb = text.getBytes("UTF-8")
      val n = tb.length * 3
      val data = Array.tabulate(n)(i => tb(i % tb.length))
      val bb = java.nio.ByteBuffer.allocate(44 + n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1) // PCM, mono
        .putInt(8000).putInt(8000) // sample rate, byte rate (8-bit mono)
        .putShort(1).putShort(8) // block align, bits per sample
        .put("data".getBytes("US-ASCII")).putInt(n)
        .put(data)
      bb.array()
    }
    TextStats.docs(spark, dir)
      .select(col("doc_id"), lit("audio/wav").as("mime"),
        gen(col("doc_id"), col("text")).as("payload"))
      .as[MMRecord]
  }

  /** REAL RIFF/WAVE decoder — pure JVM: validates the RIFF/WAVE magic,
    * reads the PCM format chunk (mono, 8-bit enforced), and computes sample
    * statistics from the data chunk. The audio twin of [[decodePpm]]. */
  def decodeWav(docId: Long, payload: Array[Byte]): MMAudio = {
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def str4(off: Int) = new String(payload, off, 4, "US-ASCII")
    require(str4(0) == "RIFF" && str4(8) == "WAVE", "not a RIFF/WAVE file")
    require(str4(12) == "fmt " && bb.getInt(16) == 16, "missing PCM fmt chunk")
    require(bb.getShort(20) == 1 && bb.getShort(22) == 1, "not mono PCM")
    val rate = bb.getInt(24)
    require(bb.getShort(34) == 8, "not 8-bit samples")
    require(str4(36) == "data", "missing data chunk")
    val n = bb.getInt(40)
    require(payload.length == 44 + n, "truncated data chunk")
    var sum = 0L
    var i = 0
    while (i < n) { sum += payload(44 + i) & 0xFF; i += 1 }
    MMAudio(docId, rate, n.toLong, n.toLong * 1000L / rate,
      BigDecimal(sum.toDouble / n).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
  }

  /** Batch REAL audio decode over partition iterators. */
  def wavFeatures(spark: SparkSession, dir: String): Dataset[MMAudio] = {
    import spark.implicits._
    wavRecords(spark, dir).mapPartitions(_.map(r => decodeWav(r.doc_id, r.payload)))
  }

  final case class MMAudioFeat(doc_id: Long, n_frames: Long, zero_cross: Long,
      energy: Long, active_frames: Long)

  /** Frame-level audio feature extraction over the REAL WAV decode path —
    * the speech-pipeline front end (voice-activity detection, energy
    * gating): per clip the zero-crossing count, total energy, and the number
    * of ACTIVE frames (frame energy above `activeThresh`, frames of `frame`
    * samples = 20 ms at 8 kHz, trailing partial frame dropped).
    *
    * All-integer arithmetic — samples re-centered at `mid` (100, the
    * synthetic corpus's byte midpoint; real 8-bit PCM uses 128), energy is
    * Σ(s−mid)² in exact longs, activity is an integer comparison — so a
    * DuckDB oracle replaying the cyclic byte rule reproduces every value
    * bit-for-bit. Scale shape: mapPartitions batch decode, embarrassingly
    * parallel, one pass over the payload bytes per record. */
  def audioFeatures(spark: SparkSession, dir: String, frame: Int = 160,
      mid: Int = 100, activeThresh: Long = 130000L): Dataset[MMAudioFeat] = {
    import spark.implicits._
    wavRecords(spark, dir).mapPartitions(_.map { r =>
      val p = r.payload
      val bb = java.nio.ByteBuffer.wrap(p).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def str4(off: Int) = new String(p, off, 4, "US-ASCII")
      require(str4(0) == "RIFF" && str4(8) == "WAVE", "not a RIFF/WAVE file")
      require(bb.getShort(20) == 1 && bb.getShort(22) == 1 &&
        bb.getShort(34) == 8, "not mono 8-bit PCM")
      require(str4(36) == "data", "missing data chunk")
      val n = bb.getInt(40)
      require(p.length == 44 + n, "truncated data chunk")
      val nFrames = n / frame
      var zc = 0L; var en = 0L; var af = 0L; var fe = 0L
      var prevAbove = false
      var i = 0
      while (i < n) {
        val d = (p(44 + i) & 0xFF) - mid
        val sq = d.toLong * d
        en += sq
        val above = d >= 0
        if (i > 0 && above != prevAbove) zc += 1
        prevAbove = above
        if (i < nFrames * frame) {
          fe += sq
          if ((i + 1) % frame == 0) { if (fe > activeThresh) af += 1; fe = 0L }
        }
        i += 1
      }
      MMAudioFeat(r.doc_id, nFrames.toLong, zc, en, af)
    })
  }

  /** Build a VALID PNG payload per document with the JDK's ImageIO encoder
    * (PNG/JPEG/GIF/BMP codecs ship with every JVM — no library needed).
    * Same dimensions and cyclic sample rule as [[ppmRecords]]: raster sample
    * i is UTF-8 text byte i % n. PNG truecolor is lossless, so the decoded
    * sample multiset — and therefore the mean, which is order-invariant —
    * equals the generator rule exactly and stays value-oracle-checkable. */
  def pngRecords(spark: SparkSession, dir: String): Dataset[MMRecord] =
    imageRecords(spark, dir, "png", "image/png")

  /** JPEG twin of [[pngRecords]]. JPEG is lossy, so only the STRUCTURAL
    * decode outputs (dimensions, band count) are deterministic across
    * decoder implementations; pixel stats are not oracle-checkable. */
  def jpegRecords(spark: SparkSession, dir: String): Dataset[MMRecord] =
    imageRecords(spark, dir, "jpg", "image/jpeg")

  /** BMP twin of [[pngRecords]] — the second lossless ImageIO codec path
    * (uncompressed device-independent bitmap), so full pixel statistics stay
    * value-oracle-checkable like PNG. */
  def bmpRecords(spark: SparkSession, dir: String): Dataset[MMRecord] =
    imageRecords(spark, dir, "bmp", "image/bmp")

  /** Batch REAL BMP decode (lossless → full pixel stats are exact). */
  def bmpFeatures(spark: SparkSession, dir: String): Dataset[MMImage] = {
    import spark.implicits._
    bmpRecords(spark, dir).mapPartitions(_.map(r => decodeImage(r.doc_id, r.payload)))
  }

  private def imageRecords(spark: SparkSession, dir: String, fmt: String,
      mime: String): Dataset[MMRecord] = {
    import spark.implicits._
    val gen = udf { (docId: Long, text: String) =>
      val tb = text.getBytes("UTF-8")
      val w = 4 + tb.length % 12
      val h = (3 + docId % 5).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
      val data = img.getRaster.getDataBuffer
        .asInstanceOf[java.awt.image.DataBufferByte].getData
      var i = 0
      while (i < data.length) { data(i) = tb(i % tb.length); i += 1 }
      val bos = new java.io.ByteArrayOutputStream()
      imageIOInMemory()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    TextStats.docs(spark, dir)
      .select(col("doc_id"), lit(mime).as("mime"),
        gen(col("doc_id"), col("text")).as("payload"))
      .as[MMRecord]
  }

  /** REAL codec decode via `javax.imageio.ImageIO` — the dimensions, band
    * count, and pixel statistics all come from the DECODED image, not from
    * metadata. Works for any format with a registered reader (JPEG, PNG,
    * GIF, BMP, TIFF in a stock JVM). */
  def decodeImage(docId: Long, payload: Array[Byte]): MMImage = {
    imageIOInMemory()
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
    require(img != null, "no registered ImageIO reader recognizes the payload")
    val (w, h) = (img.getWidth, img.getHeight)
    var sum = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sum += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        x += 1
      }
      y += 1
    }
    MMImage(docId, w, h, img.getRaster.getNumBands,
      BigDecimal(sum.toDouble / (w.toLong * h * 3))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  /** Batch REAL PNG decode (lossless → full pixel stats are exact). */
  def pngFeatures(spark: SparkSession, dir: String): Dataset[MMImage] = {
    import spark.implicits._
    pngRecords(spark, dir).mapPartitions(_.map(r => decodeImage(r.doc_id, r.payload)))
  }

  final case class MMVideo(doc_id: Long, timescale: Int, duration_ticks: Long,
      n_frames: Long, total_frame_bytes: Long, mean_frame_byte: Double)

  /** Build a VALID minimal ISO-BMFF (MP4) container per document:
    * `ftyp` + `moov{mvhd, trak{mdia{stbl{stsz}}}}` + `mdat`, with the frame
    * COUNT and per-frame SIZES in a real `stsz` box, the timescale/duration
    * in a real `mvhd`, and the frame payload bytes (cyclic text rule, the
    * ppm/wav device) in `mdat`. 30 fps at timescale 600 → 20 ticks/frame;
    * frame i's size is 50 + (doc_id + i) % 20. The box tree is genuinely
    * nested, so a decoder must WALK it — not fixed offsets. */
  def mp4Records(spark: SparkSession, dir: String): Dataset[MMRecord] = {
    import spark.implicits._
    val gen = udf { (docId: Long, text: String) =>
      val tb = text.getBytes("UTF-8")
      val nFrames = (1 + docId % 5).toInt
      val sizes = Array.tabulate(nFrames)(i => (50 + (docId + i) % 20).toInt)
      val total = sizes.sum
      def box(tp: String, payload: Array[Byte]): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
        bb.putInt(8 + payload.length).put(tp.getBytes("US-ASCII")).put(payload)
        bb.array()
      }
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII") ++
        Array[Byte](0, 0, 0, 0) ++ "isom".getBytes("US-ASCII"))
      val mvhd = {
        val bb = java.nio.ByteBuffer.allocate(100) // version-0 mvhd payload
        bb.putInt(0) // version + flags
          .putInt(0).putInt(0) // creation, modification
          .putInt(600) // timescale
          .putInt(nFrames * 20) // duration
        box("mvhd", bb.array())
      }
      val stsz = {
        val bb = java.nio.ByteBuffer.allocate(12 + 4 * nFrames)
        bb.putInt(0).putInt(0).putInt(nFrames) // flags, sample_size=0, count
        sizes.foreach(bb.putInt)
        box("stsz", bb.array())
      }
      val moov = box("moov", mvhd ++
        box("trak", box("mdia", box("stbl", stsz))))
      val mdat = box("mdat", Array.tabulate(total)(i => tb(i % tb.length)))
      ftyp ++ moov ++ mdat
    }
    TextStats.docs(spark, dir)
      .select(col("doc_id"), lit("video/mp4").as("mime"),
        gen(col("doc_id"), col("text")).as("payload"))
      .as[MMRecord]
  }

  /** REAL ISO-BMFF container decode — a recursive box-tree walker (size +
    * fourcc headers, nested children, all three size encodings: 32-bit
    * compact, size==1 64-bit largesize, size==0 to-end-of-scope), extracting
    * the movie timescale and duration from `mvhd`, the frame count and
    * per-frame sizes from `stsz` (walked down moov→trak→mdia→stbl), and
    * byte statistics over the actual `mdat` payload (real files don't
    * guarantee |mdat| == Σ stsz — multi-track or padded mdat). Remaining
    * fixture-shaped limits are declared by `require`: version-0 mvhd and
    * variable-size stsz; and only the codec-bitstream pixel decode (H.264
    * etc.) has no JVM implementation — no output here depends on it. */
  def decodeMp4(docId: Long, payload: Array[Byte]): MMVideo = {
    val bb = java.nio.ByteBuffer.wrap(payload)
    def fourcc(off: Int) = new String(payload, off + 4, 4, "US-ASCII")
    /** Bounds of the box headed at `off` inside sibling scope [off, until):
      * (payloadStart, boxEnd), decoding compact, largesize (size==1, 64-bit
      * length after the fourcc) and open (size==0, runs to the end of the
      * enclosing scope — legal for a last box, typically mdat) headers. */
    def boxBounds(off: Int, until: Int): (Int, Int) = {
      val sz = bb.getInt(off)
      if (sz == 0) (off + 8, until)
      else if (sz == 1) {
        require(off + 16 <= until, s"truncated largesize header at $off")
        val large = bb.getLong(off + 8)
        require(large >= 16 && off + large <= until,
          s"bad largesize $large at $off")
        (off + 16, off + large.toInt)
      } else {
        require(sz >= 8 && off + sz <= until, s"bad box size $sz at $off")
        (off + 8, off + sz)
      }
    }
    /** Find the first box of type `tp` among the siblings in [from, until). */
    def find(tp: String, from: Int, until: Int): Option[(Int, Int)] = {
      var off = from
      while (off + 8 <= until) {
        val (ps, end) = boxBounds(off, until)
        if (fourcc(off) == tp) return Some((ps, end))
        off = end
      }
      None
    }
    def need(tp: String, range: Option[(Int, Int)]): (Int, Int) = {
      val (f, u) = range.getOrElse(throw new IllegalArgumentException("no parent"))
      find(tp, f, u).getOrElse(
        throw new IllegalArgumentException(s"missing $tp box"))
    }
    require(find("ftyp", 0, payload.length).isDefined, "not an ISO-BMFF file")
    val moov = need("moov", Some((0, payload.length)))
    val mvhd = need("mvhd", Some(moov))
    require(bb.getInt(mvhd._1) == 0, "only version-0 mvhd supported")
    val timescale = bb.getInt(mvhd._1 + 12)
    val duration = bb.getInt(mvhd._1 + 16).toLong
    val stsz = need("stsz",
      Some(need("stbl", Some(need("mdia", Some(need("trak", Some(moov))))))))
    require(bb.getInt(stsz._1 + 4) == 0, "fixed-size stsz unsupported")
    val n = bb.getInt(stsz._1 + 8)
    var total = 0L
    var i = 0
    while (i < n) { total += bb.getInt(stsz._1 + 12 + 4 * i); i += 1 }
    val mdat = need("mdat", Some((0, payload.length)))
    // byte stats over the actual mdat payload — no |mdat| == Σ stsz
    // assumption (multi-track / padded mdat files violate it)
    val mLen = mdat._2 - mdat._1
    var sum = 0L
    var j = mdat._1
    while (j < mdat._2) { sum += payload(j) & 0xFF; j += 1 }
    val mean =
      if (mLen == 0) 0.0
      else BigDecimal(sum.toDouble / mLen)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    MMVideo(docId, timescale, duration, n.toLong, total, mean)
  }

  /** Batch REAL MP4 container decode over partition iterators. */
  def mp4Features(spark: SparkSession, dir: String): Dataset[MMVideo] = {
    import spark.implicits._
    mp4Records(spark, dir).mapPartitions(_.map(r => decodeMp4(r.doc_id, r.payload)))
  }

  final case class MMFrame(doc_id: Long, frame_idx: Int, size: Long,
      is_key: Boolean)

  /** Key-frame selection from the REAL container parse: per clip, one row
    * per frame with its stsz size and the I-frame heuristic flag
    * `size · n_frames > total_bytes` (strictly above the mean frame size,
    * decided by integer cross-multiplication — I-frames carry a full image
    * and dwarf the deltas; at a real sampling stage these indexes feed the
    * codec's seek table). Map-side from the same box walk as
    * [[mp4Features]]; no decode of the frame bitstream is needed to pick
    * the candidates — that is the point of doing it container-side. */
  def mp4KeyFrames(spark: SparkSession, dir: String): Dataset[MMFrame] = {
    import spark.implicits._
    mp4Records(spark, dir).mapPartitions(_.flatMap { r =>
      val p = r.payload
      val bb = java.nio.ByteBuffer.wrap(p)
      def fourcc(off: Int) = new String(p, off + 4, 4, "US-ASCII")
      def find(tp: String, from: Int, until: Int): (Int, Int) = {
        var off = from
        while (off + 8 <= until) {
          val sz = bb.getInt(off)
          require(sz >= 8 && off + sz <= until, s"bad box size $sz at $off")
          if (fourcc(off) == tp) return (off + 8, off + sz)
          off += sz
        }
        throw new IllegalArgumentException(s"missing $tp box")
      }
      val moov = find("moov", 0, p.length)
      val stbl = { val t = find("trak", moov._1, moov._2)
        val m = find("mdia", t._1, t._2); find("stbl", m._1, m._2) }
      val stsz = find("stsz", stbl._1, stbl._2)
      val n = bb.getInt(stsz._1 + 8)
      val sizes = Array.tabulate(n)(i => bb.getInt(stsz._1 + 12 + 4 * i).toLong)
      val total = sizes.sum
      sizes.iterator.zipWithIndex.map { case (sz, i) =>
        MMFrame(r.doc_id, i, sz, sz * n > total)
      }
    })
  }

  final case class MMDims(doc_id: Long, width: Int, height: Int, channels: Int)

  /** Batch REAL JPEG decode, keeping only the fields deterministic under a
    * lossy codec (decoded dimensions and band count). */
  def jpegFeatures(spark: SparkSession, dir: String): Dataset[MMDims] = {
    import spark.implicits._
    jpegRecords(spark, dir).mapPartitions(_.map { r =>
      val d = decodeImage(r.doc_id, r.payload)
      MMDims(r.doc_id, d.width, d.height, d.channels)
    })
  }

  /** Frame sampling for "video" payloads: one row per sampled frame index. */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    features(spark, dir).toDF()
      .select(col("doc_id"), explode(sequence(lit(0),
        col("n_frames") - 1)).as("frame_idx"))
  }

  /** Resize planning (metadata-only transform over the feature frame). */
  def resizePlan(spark: SparkSession, dir: String, maxSide: Int = 256): DataFrame = {
    features(spark, dir).toDF()
      .withColumn("scale", round(lit(maxSide) / greatest(col("width"), col("height")), 4))
      .withColumn("out_w", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_h", floor(col("height") * col("scale")).cast("int"))
      .select("doc_id", "width", "height", "scale", "out_w", "out_h")
  }

  final case class MMHash(doc_id: Long, phash: Long)

  /** Block-average perceptual hash (aHash family) of a decoded raster:
    * grayscale = integer channel sum per pixel; the image is partitioned
    * into a 4×3 block grid (block of pixel x is `x*4 div w` — every block
    * nonempty since w ≥ 4, h ≥ 3); bit b is set iff the block's mean
    * exceeds the global mean, decided by INTEGER cross-multiplication
    * (`blockSum·totalCount > totalSum·blockCount`) so there is no float
    * anywhere and an oracle replaying the pixel rule reproduces the hash
    * bit-for-bit. 12-bit hash, LSB = block 0 (top-left, row-major). */
  def phashOfPpm(payload: Array[Byte]): Long = {
    val s = new String(payload, 0, math.min(payload.length, 32), "US-ASCII")
    require(s.startsWith("P6\n"), "not a P6 PPM")
    val nl2 = s.indexOf('\n', 3)
    val nl3 = s.indexOf('\n', nl2 + 1)
    val Array(w, h) = s.substring(3, nl2).split(" ").map(_.toInt)
    val off = nl3 + 1
    require(payload.length == off + w * h * 3, "truncated raster")
    val bSum = new Array[Long](12)
    val bCnt = new Array[Long](12)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = off + (y * w + x) * 3
        val g = (payload(p) & 0xFF) + (payload(p + 1) & 0xFF) + (payload(p + 2) & 0xFF)
        val blk = (y * 3 / h) * 4 + (x * 4 / w)
        bSum(blk) += g; bCnt(blk) += 1
        x += 1
      }
      y += 1
    }
    val ts = bSum.sum
    val tc = bCnt.sum
    var hash = 0L
    var b = 0
    while (b < 12) {
      if (bSum(b) * tc > ts * bCnt(b)) hash |= (1L << b)
      b += 1
    }
    hash
  }

  /** Image near-duplicate detection by perceptual hash — the multimodal
    * counterpart of the text near-dup family: REAL P6/PPM decode per doc
    * (mapPartitions batch decode, embarrassingly parallel), then hamming-≤2
    * pairs over the 12-bit [[phashOfPpm]] signatures.
    *
    * Scale shape: pairs come from an LSH band equi-join — 3 bands of 4 bits;
    * by pigeonhole any pair within hamming 2 shares at least one EXACT band,
    * so the banding is lossless (recall 1.0) for the ≤2 cut while never
    * comparing across buckets. Same shape as the SimHash text pairs: the
    * only shuffle is the band-keyed self-join, verified by bit_count(xor).
    * The 12-bit width follows the tiny synthetic rasters (4×3 grid);
    * production images take an 8×8 grid → 64-bit hashes with 16-bit bands,
    * where band buckets are selective — the join shape is unchanged.
    * Output: (a, b, hamming) with a < b. */
  def phashPairs(spark: SparkSession, dir: String, maxHam: Int = 2): DataFrame = {
    import spark.implicits._
    val sig = ppmRecords(spark, dir)
      .mapPartitions(_.map(r => MMHash(r.doc_id, phashOfPpm(r.payload))))
      .toDF()
      .transform(ScratchCache.persist)
    sig.count() // materialize before the band explode + self-join fan-out
    val bandCols = (0 until 3).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("phash"), b * 4).bitwiseAND(0xF).as("bh")))
    val banded = sig.select(col("doc_id"), col("phash"),
        explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("phash"), col("bk.band").as("band"),
        col("bk.bh").as("bh"))
    banded.alias("x").join(banded.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        bit_count(col("x.phash").bitwiseXOR(col("y.phash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }
}
