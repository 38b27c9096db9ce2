package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing: image/audio payloads as opaque
  * BinaryType columns with typed metadata, processed by per-partition
  * batch operators (the Scala analogue of mapInPandas: one iterator
  * of rows per partition, amortized decoder setup per partition, no
  * driver involvement).
  *
  * The decode step is a REAL pure-JVM container-header parser
  * ([[HeaderDecode]]): PNG IHDR dimensions, JPEG SOF dimensions, and
  * WAV fmt/data chunk walking — the public container formats, parsed
  * from bytes with no native dependencies. The corpus carries no
  * actual media, so [[asMediaTable]] SYNTHESIZES valid containers
  * around each document's bytes (dimensions/rates derived from
  * doc_id, body = the UTF-8 text payload); synthesis and parsing are
  * independent code paths, and the oracle recomputes every decoded
  * field analytically from doc_id/text — a wrong parser fails the
  * gate. A production deployment swaps the synthesis out (payloads
  * arrive at rest) and extends [[HeaderDecode]] per codec; the Spark
  * plumbing — binary schema, partitioning, per-partition batch
  * iteration, feature schema — is unchanged.
  */
object Multimodal {

  /** A media payload row: opaque bytes + typed metadata. */
  final case class MediaRecord(doc_id: Long, media_type: String, content: Array[Byte])

  /** Header-decoded features: image dimensions (PNG/JPEG), audio
    * shape (WAV). Fields not applicable to a payload's container are
    * 0 — the dense-schema convention a mixed-modality feature table
    * needs (per-modality structs would defeat column pruning on the
    * shared fields).
    */
  final case class MediaFeatures(
      doc_id: Long,
      media_type: String,
      n_bytes: Long,
      magic: String,
      width: Int,
      height: Int,
      sample_rate: Int,
      n_channels: Int,
      n_samples: Long,
  )

  /** Container synthesis (corpus-side fake): builds byte-exact PNG /
    * JPEG / WAV files whose header fields are deterministic functions
    * of doc_id, so the decoded values are oracle-checkable without
    * shipping real media in the corpus.
    */
  object MediaPayload {
    private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    private def be32(v: Int): Array[Byte] =
      Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    private def be16(v: Int): Array[Byte] = Array((v >>> 8).toByte, v.toByte)
    private def le32(v: Int): Array[Byte] =
      Array(v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
    private def le16(v: Int): Array[Byte] = Array(v.toByte, (v >>> 8).toByte)

    private def pngChunk(chunkType: String, data: Array[Byte]): Array[Byte] = {
      val t = chunkType.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(t); crc.update(data)
      be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
    }

    /** PNG: signature + IHDR(width, height, 8-bit RGB) + one IDAT
      * chunk holding the raw payload + IEND. Total = 57 + |payload|.
      */
    def png(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
      val ihdr = be32(width) ++ be32(height) ++ Array[Byte](8, 2, 0, 0, 0)
      PngSig ++ pngChunk("IHDR", ihdr) ++ pngChunk("IDAT", payload) ++
        pngChunk("IEND", Array.emptyByteArray)
    }

    /** JPEG: SOI + APP0/JFIF + SOF0(8-bit, 1 component, height,
      * width) + raw payload + EOI. Total = 35 + |payload|.
      */
    def jpeg(width: Int, height: Int, payload: Array[Byte]): Array[Byte] = {
      val app0 = Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++
        "JFIF".getBytes("US-ASCII") ++ Array[Byte](0, 1, 1, 0) ++
        be16(1) ++ be16(1) ++ Array[Byte](0, 0)
      val sof0 = Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(11) ++
        Array[Byte](8) ++ be16(height) ++ be16(width) ++
        Array[Byte](1, 1, 0x11, 0)
      Array[Byte](0xff.toByte, 0xd8.toByte) ++ app0 ++ sof0 ++ payload ++
        Array[Byte](0xff.toByte, 0xd9.toByte)
    }

    /** WAV (PCM 16-bit): RIFF/WAVE + fmt + data, payload truncated to
      * a whole number of sample frames. Total = 44 + data_len where
      * data_len = |payload| − (|payload| mod block_align).
      */
    def wav(sampleRate: Int, channels: Int, payload: Array[Byte]): Array[Byte] = {
      val blockAlign = 2 * channels
      val dataLen = payload.length - (payload.length % blockAlign)
      val fmt = le16(1) ++ le16(channels) ++ le32(sampleRate) ++
        le32(sampleRate * blockAlign) ++ le16(blockAlign) ++ le16(16)
      "RIFF".getBytes("US-ASCII") ++ le32(36 + dataLen) ++ "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ le32(16) ++ fmt ++
        "data".getBytes("US-ASCII") ++ le32(dataLen) ++ payload.take(dataLen)
    }

    /** The doc_id → header-field contract the oracle mirrors. */
    def synthesize(docId: Long, text: String): MediaRecord = {
      val body = text.getBytes("UTF-8")
      (docId % 3).toInt match {
        case 0 =>
          MediaRecord(docId, "png",
            png((docId % 637).toInt + 1, (docId % 479).toInt + 1, body))
        case 1 =>
          MediaRecord(docId, "wav",
            wav(8000 + (docId % 5).toInt * 2000, (docId % 2).toInt + 1, body))
        case _ =>
          MediaRecord(docId, "jpeg",
            jpeg((docId % 641).toInt + 1, (docId % 443).toInt + 1, body))
      }
    }
  }

  /** Pure-JVM container-header parser. Dispatches on the payload's
    * MAGIC BYTES (never the metadata column — a decoder must not
    * trust upstream typing); unknown containers yield a zeroed
    * feature row with the observed magic, so one corrupt payload
    * degrades to an inspectable row instead of failing the batch.
    */
  object HeaderDecode {
    private def be32(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) | ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
    private def le32(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
    private def ascii(b: Array[Byte], i: Int, n: Int): String =
      new String(b, i, n, "US-ASCII")

    private def isPng(b: Array[Byte]): Boolean =
      b.length >= 24 && be32(b, 0) == 0x89504e47 && be32(b, 4) == 0x0d0a1a0a
    private def isJpeg(b: Array[Byte]): Boolean =
      b.length >= 4 && (b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8
    private def isWav(b: Array[Byte]): Boolean =
      b.length >= 44 && ascii(b, 0, 4) == "RIFF" && ascii(b, 8, 4) == "WAVE"

    /** PNG: the spec requires IHDR as the first chunk — width/height
      * are the two big-endian ints of its data.
      */
    private def pngDims(b: Array[Byte]): (Int, Int) =
      if (ascii(b, 12, 4) == "IHDR") (be32(b, 16), be32(b, 20)) else (0, 0)

    /** JPEG: walk the marker segments to the first SOF frame header
      * (C0–CF minus the non-frame C4/C8/CC); height/width are the two
      * big-endian shorts after the precision byte.
      */
    private def jpegDims(b: Array[Byte]): (Int, Int) = {
      var i = 2
      while (i + 9 < b.length && (b(i) & 0xff) == 0xff) {
        val m = b(i + 1) & 0xff
        if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
          return (be16(b, i + 7), be16(b, i + 5))
        else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd9) || m == 0x01) i += 2
        else i += 2 + be16(b, i + 2)
      }
      (0, 0)
    }

    /** WAV: chunk walk from offset 12 collecting fmt (channels, rate,
      * block align) and data (byte size); frames = data / block_align.
      */
    private def wavShape(b: Array[Byte]): (Int, Int, Long) = {
      var i = 12
      var rate = 0; var channels = 0; var blockAlign = 0; var dataLen = -1L
      while (i + 8 <= b.length && (rate == 0 || dataLen < 0)) {
        val id = ascii(b, i, 4)
        val size = le32(b, i + 4)
        if (id == "fmt " && i + 8 + 16 <= b.length) {
          channels = le16(b, i + 10)
          rate = le32(b, i + 12)
          blockAlign = le16(b, i + 20)
        } else if (id == "data") dataLen = size.toLong
        i += 8 + size + (size & 1) // chunks are word-aligned
      }
      val samples = if (blockAlign > 0 && dataLen > 0) dataLen / blockAlign else 0L
      (rate, channels, samples)
    }

    /** Payload EXTRACTION — the step between header parse and codec
      * decode in a real pipeline. PNG: the IDAT chunk's data (chunk
      * walk from the first chunk, so extra ancillary chunks before
      * IDAT are tolerated). JPEG: the entropy region — everything
      * after the last 0xff-prefixed header segment up to the trailing
      * EOI. WAV: the data chunk's content. Unknown container → empty.
      */
    def payload(b: Array[Byte]): Array[Byte] = {
      if (isPng(b)) {
        var i = 8
        while (i + 8 <= b.length) {
          val size = be32(b, i)
          if (ascii(b, i + 4, 4) == "IDAT")
            return b.slice(i + 8, math.min(i + 8 + size, b.length))
          i += 12 + size
        }
        Array.emptyByteArray
      } else if (isWav(b)) {
        var i = 12
        while (i + 8 <= b.length) {
          val size = le32(b, i + 4)
          if (ascii(b, i, 4) == "data")
            return b.slice(i + 8, math.min(i + 8 + size, b.length))
          i += 8 + size + (size & 1)
        }
        Array.emptyByteArray
      } else if (isJpeg(b)) {
        var i = 2
        while (i + 4 <= b.length && (b(i) & 0xff) == 0xff) {
          val m = b(i + 1) & 0xff
          if (m == 0xd8 || (m >= 0xd0 && m <= 0xd9) || m == 0x01) i += 2
          else i += 2 + be16(b, i + 2)
        }
        if (i < b.length - 2) b.slice(i, b.length - 2) else Array.emptyByteArray
      } else Array.emptyByteArray
    }

    /** Decoded 16-bit PCM samples of a WAV payload (magic-dispatched
      * — non-WAV containers yield None, the codec-decode step the
      * audio perceptual tier fingerprints over). Little-endian signed
      * shorts of the data chunk; a trailing odd byte (impossible for
      * a well-formed block-aligned chunk) is ignored.
      */
    private[graft] def wavPcm16(b: Array[Byte]): Option[Array[Int]] =
      if (!isWav(b)) None
      else {
        val p = payload(b)
        val out = new Array[Int](p.length / 2)
        var j = 0
        while (j < out.length) {
          val raw = (p(2 * j) & 0xff) | ((p(2 * j + 1) & 0xff) << 8)
          out(j) = if (raw >= 0x8000) raw - 0x10000 else raw
          j += 1
        }
        Some(out)
      }

    /** Image-payload extraction for the perceptual tier: the decoded
      * pixel surface of a PNG/JPEG container (here: the extracted
      * payload bytes — the deterministic stand-in this container-only
      * corpus uses for a codec's pixel output), None for non-image
      * containers. A production deployment swaps in the real codec
      * here; everything downstream (sampling grid, gradient hash,
      * banded pairing) is codec-independent.
      */
    def imagePixels(b: Array[Byte]): Option[Array[Byte]] =
      if (isPng(b) || isJpeg(b)) Some(payload(b)) else None

    def decode(r: MediaRecord): MediaFeatures = {
      val b = r.content
      val magic = b.take(4).map("%02x".format(_)).mkString
      val base = MediaFeatures(r.doc_id, r.media_type, b.length.toLong, magic, 0, 0, 0, 0, 0L)
      if (isPng(b)) {
        val (w, h) = pngDims(b); base.copy(width = w, height = h)
      } else if (isWav(b)) {
        val (rate, ch, n) = wavShape(b)
        base.copy(sample_rate = rate, n_channels = ch, n_samples = n)
      } else if (isJpeg(b)) {
        val (w, h) = jpegDims(b); base.copy(width = w, height = h)
      } else base
    }
  }

  /** Wrap the documents table as a media table: each document's bytes
    * wrapped in a synthesized (byte-valid) container whose header
    * fields are deterministic in doc_id — see [[MediaPayload]].
    */
  def asMediaTable(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) => MediaPayload.synthesize(id, text) }
  }

  /** Per-partition batch decode: the decoder is instantiated once per
    * partition (amortized setup — exactly the mapInPandas batching
    * contract), rows stream through it without materializing the
    * partition.
    */
  def decodeFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder setup would go here (open codec once)
      it.map(HeaderDecode.decode)
    }
  }

  /** The multimodal_features gate: synthesize → parse, end to end on
    * executors; every emitted field is recomputed analytically by the
    * DuckDB oracle from doc_id/text, so the byte-level parser is
    * oracle-checked, not just spec-checked.
    */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(asMediaTable(spark, dir)).toDF()

  /** Media-level exact dedup — content identity across container
    * wrappers: each payload EXTRACTED by the byte-level parser
    * ([[HeaderDecode.payload]]), hashed, and grouped; docs whose
    * extracted payloads collide are byte-identical media regardless
    * of the container around them. WAV payloads are block-aligned
    * truncations of the body, so the same text in a WAV vs a PNG
    * wrapper legitimately differs when the tail is cut — the gate
    * reports what the BYTES say, which is the point. The oracle
    * recomputes every hash analytically from text (ASCII corpus:
    * char slicing == byte slicing; the engine side slices bytes), so
    * a wrong payload walk — off-by-one chunk offset, missed
    * truncation — fails the gate, extending the header-field checks
    * to full payload extraction.
    *
    * Scale shape: synthesize → extract → hash is one per-partition
    * map pass (mapPartitions, decoder amortized); the hash-group
    * count is a |distinct payloads|-key aggregate joined back by an
    * equi-join on the 32-char hash. Nothing broadcasts a
    * corpus-scaling side.
    */
  def payloadDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashed = asMediaTable(spark, dir)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { r =>
          val p = HeaderDecode.payload(r.content)
          md.reset()
          val hex = md.digest(p).map("%02x".format(_)).mkString
          (r.doc_id, r.media_type, p.length.toLong, hex)
        }
      }
      .toDF("doc_id", "media_type", "n_payload", "payload_md5")
    val groups = hashed.groupBy("payload_md5").agg(count(lit(1)).as("n_sharers"))
    hashed.join(groups, "payload_md5")
      .select(col("doc_id"), col("media_type"), col("n_payload"), col("payload_md5"), col("n_sharers"))
  }

  /** Downsample grid size for the perceptual hash, as a function of
    * the MEDIA count — the corpus-adaptive lever that keeps the
    * pigeonhole pairing linear. With a FIXED 64-block grid the 8
    * bands carry ~8 bits each, so past N ≫ 2^8 every (band, value)
    * bucket holds ~N/2^8 rows and Σ|bucket|² = N²/32 — measured as a
    * genuine quadratic at the sf4e rehearsal (10.5 s → 149 s on a 4×
    * corpus). The multi-index-hashing rule (Norouzi et al.: band
    * width ≈ log₂ N) fixes it: the grid DOUBLES once the media count
    * passes 50k, which widens each band by 8 bits = 256× more
    * buckets per band — one grid doubling per 256× corpus growth
    * holds bucket occupancy roughly constant: 64 blocks to 50k
    * media, 128 to 12.8M, 256 past it (good to ~3.3G media; the
    * tail band carries 38 bits at 256, still a non-overflowing
    * BIGINT — the band split's headroom was sized for this tier).
    * The generated fixture's pixel surface grows WITH the grid
    * ([[phashVariantRecord]]: 2·blocks + 64 px minimum — at the
    * 64-block driver tier that is exactly the historical 192-px
    * floor, so driver-SF gates are bit-identical), which is what
    * makes every tier REHEARSABLE — the r11 cap at 128 existed only
    * because the fixture floor couldn't fill a 256-block grid. Both
    * engines derive the grid from the same count, so they flip at
    * identical sizes (the mining-staircase pattern).
    */
  private[graft] def phashGridBlocks(nMedia: Long): Int =
    if (nMedia >= 12800000L) 256 else if (nMedia >= 50000L) 128 else 64

  /** Difference hash (dHash) of an image payload at a given grid
    * size, as 8 PIGEONHOLE BAND integers: the pixel stream is
    * DOWNSAMPLED BY AREA AVERAGING into `blocks` equal blocks
    * (boundaries ⌊i·n/blocks⌋ — the 1-D analogue of the resize step
    * in the classic perceptual dHash; a first cut point-SAMPLED the
    * grid instead and was shift-fragile: a single short insertion
    * re-aligned every downstream sample, so only byte-exact dups
    * collided and the gate was empty at two SFs). Gradient bit i is
    * set when block mean i+1 > block mean i (blocks−1 bits total);
    * bit i lands in band min(i/w, 7) at offset i − band·w, where
    * w = (blocks−1)/8 — 7 bands of w bits plus a wider tail band,
    * each ≤ 38 bits, so every band value is a non-overflowing BIGINT
    * on both engines at every grid size. Block means are integer
    * floor divisions — exact cross-engine. The hamming distance of
    * two fingerprints is the sum of per-band XOR popcounts, so the
    * band split is also the distance representation — no packed
    * 64-bit integer to outgrow. Requires ≥ `blocks` pixels (every
    * block nonempty).
    */
  private[graft] def dhashBands(pixels: Array[Byte], blocks: Int): Array[Long] = {
    val v = new Array[Long](pixels.length)
    var j = 0
    while (j < pixels.length) { v(j) = pixels(j) & 0xff; j += 1 }
    signDeltaBands(v, blocks)
  }

  /** The modality-neutral core of [[dhashBands]]: area-averaged
    * downsample of a nonnegative integer sequence into `blocks`
    * block means (integer floor divisions — exact cross-engine),
    * gradient sign bits, 8 pigeonhole bands. Pixels feed it bytes;
    * the audio tier feeds it frame energies — SAME band algebra,
    * SAME hamming representation, so the pairing machinery
    * ([[withBandKeys]] / [[bandHamming]]) is shared verbatim.
    */
  private[graft] def signDeltaBands(vals: Array[Long], blocks: Int): Array[Long] = {
    val n = vals.length
    val bits = blocks - 1
    val w = bits / 8
    def blockMean(i: Int): Long = {
      val s = (i.toLong * n / blocks).toInt
      val e = ((i + 1).toLong * n / blocks).toInt
      var sum = 0L
      var j = s
      while (j < e) { sum += vals(j); j += 1 }
      sum / (e - s)
    }
    val bands = new Array[Long](8)
    var prev = blockMean(0)
    var i = 0
    while (i < bits) {
      val cur = blockMean(i + 1)
      if (cur > prev) {
        val b = math.min(i / w, 7)
        bands(b) |= 1L << (i - b * w)
      }
      prev = cur
      i += 1
    }
    bands
  }

  /** One generated fixture variant (the [[phashMediaTable]] unit,
    * also synthesized at ingest by the streaming probe): the
    * pseudorandom md5 pixel texture of `base` (an affine-in-j texture
    * mod m is the SAME cyclic sequence phase-shifted per base — block
    * means then correlate across bases and 21% of ALL pairs landed
    * within hamming 7; hashing decorrelates them, so the only
    * surviving pairs are the planted variants), with v = 1 perturbing
    * exactly one downsample block, wrapped PNG (v=0) / JPEG (v=1).
    *
    * The pixel surface is GRID-ADAPTIVE: n = 2·blocks + 64 + jitter,
    * so every [[phashGridBlocks]] tier gets ≥ 2 px per block and the
    * next doubling is always rehearsable (the r11 192-px floor IS
    * this formula at the 64-block tier — driver-SF surfaces are
    * bit-identical). `blocks` is explicit, no default: a caller
    * passing a stale grid would synthesize a surface the operative
    * grid silently skips (n < blocks → no fingerprint), which is
    * exactly the vacuous-green failure mode the gates exist to rule
    * out.
    */
  private[graft] def phashVariantRecord(base: Long, v: Int, blocks: Int): MediaRecord = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def pixel(j: Int): Int = {
      md.reset()
      (md.digest(s"$base|$j".getBytes("UTF-8"))(0) & 0xff) % 200
    }
    val n = 2 * blocks + 64 + (base % 101).toInt
    val hot = (base % 64).toInt
    val id = base * 2 + v
    val px = Array.tabulate(n) { j =>
      val blk = ((64L * j + 63) / n).toInt
      (pixel(j) + (if (v == 1 && blk == hot) 8 else 0)).toByte
    }
    if (v == 0)
      MediaRecord(id, "png", MediaPayload.png((id % 637).toInt + 1, (id % 479).toInt + 1, px))
    else
      MediaRecord(id, "jpeg", MediaPayload.jpeg((id % 641).toInt + 1, (id % 443).toInt + 1, px))
  }

  /** BOTH variants of a base in one texture pass (round 15): the md5
    * pixel texture is a function of (base, j) alone — v only adds the
    * hot-block bump — yet every both-variant call site paid the
    * ~(2·blocks + 64)-digest texture TWICE per base through two
    * [[phashVariantRecord]] calls. One digest pass fills both pixel
    * surfaces; containers wrap exactly as before, so the records are
    * BIT-IDENTICAL to `Seq(phashVariantRecord(base, 0, blocks),
    * phashVariantRecord(base, 1, blocks))` (pinned in ExtensionsSpec).
    * Halves the dominant synthesis cost of the image-tier batch gates
    * (guide §1.2 step 2 — per-task work; the md5-per-pixel texture IS
    * the hot loop once the r14 fingerprint-once fix landed).
    */
  private[graft] def phashVariantPair(base: Long, blocks: Int): Seq[MediaRecord] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = 2 * blocks + 64 + (base % 101).toInt
    val hot = (base % 64).toInt
    val px0 = new Array[Byte](n)
    val px1 = new Array[Byte](n)
    var j = 0
    while (j < n) {
      md.reset()
      val p = (md.digest(s"$base|$j".getBytes("UTF-8"))(0) & 0xff) % 200
      val blk = ((64L * j + 63) / n).toInt
      px0(j) = p.toByte
      px1(j) = (p + (if (blk == hot) 8 else 0)).toByte
      j += 1
    }
    val id0 = base * 2
    val id1 = base * 2 + 1
    Seq(
      MediaRecord(id0, "png", MediaPayload.png((id0 % 637).toInt + 1, (id0 % 479).toInt + 1, px0)),
      MediaRecord(id1, "jpeg", MediaPayload.jpeg((id1 % 641).toInt + 1, (id1 % 443).toInt + 1, px1)),
    )
  }

  /** The perceptual-dedup fixture: a GENERATED image corpus with
    * planted near-dups, one base per document and two variants per
    * base (media id = doc_id·2 + v — see [[phashVariantRecord]] for
    * the md5 pixel texture and the one-block v=1 perturbation, the
    * LOCAL edit a re-encoded/re-touched image exhibits, which is what
    * perceptual hashing detects). The document TEXT surface was
    * measured useless here: corpus near-dups are token insertions,
    * i.e. SHIFTS of the byte stream, which decorrelate every
    * downstream block mean — that is MinHash territory, and the first
    * two cuts of this gate came back empty at two SFs. Real images
    * don't shift under edits; this fixture models them honestly.
    * Pixels are wrapped in byte-valid PNG (v=0) / JPEG (v=1)
    * containers so the gate still exercises the full decode path:
    * magic dispatch → payload extraction → hash. Every pixel is an
    * integer function of (doc_id, j), so the oracle regenerates the
    * surface analytically — no bytes cross engines. Pixel values stay
    * ≤ 215, so no 0xff byte can alias a JPEG marker in the entropy
    * walk.
    */
  private[graft] def phashMediaTable(
      spark: SparkSession,
      dir: String,
      blocks: Int,
  ): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.flatMap(base => phashVariantPair(base, blocks)))
  }

  /** Decode → fingerprint, the map step both the batch pairing and
    * the streaming probe share: image payloads only (magic dispatch),
    * ≥ `blocks` pixels (full downsample grid).
    */
  private[graft] def fingerprintOf(r: MediaRecord, blocks: Int): Option[(Long, Array[Long])] =
    HeaderDecode.imagePixels(r.content)
      .filter(_.length >= blocks)
      .map(px => (r.doc_id, dhashBands(px, blocks)))

  /** (id, bands) → (doc_<pfx>, <pfx>0..<pfx>7, __bucket) — the band
    * columns plus the exploded "band|value" multi-index key both the
    * batch pairing and the streaming probe block on.
    */
  private[graft] def withBandKeys(fps: DataFrame, pfx: String): DataFrame =
    fps.select(
      col("id").as(s"doc_$pfx") +:
        (0 until 8).map(j => col("bands").getItem(j).as(s"$pfx$j")) :+
        explode(array((0 until 8).map(j =>
          concat_ws("|", lit(j), col("bands").getItem(j))): _*)).as("__bucket"): _*)

  /** Per-band XOR popcount sum — the hamming distance between the
    * `a*` and `b*` band columns of a joined pair row.
    */
  private[graft] def bandHamming: org.apache.spark.sql.Column =
    (0 until 8)
      .map(j => bit_count(col(s"a$j").bitwiseXOR(col(s"b$j"))))
      .reduce(_ + _)
      .cast("int")

  /** Perceptual near-dup pairs over decoded image payloads — the
    * multimodal analogue of [[graft.operators.Dedup.simhashHammingPairs]]:
    * decode (per-partition, amortized) → [[dhashBands]] fingerprint →
    * PIGEONHOLE MULTI-INDEX pairing. The gradient fingerprint splits
    * into maxHamming+1 = 8 disjoint bands; any pair within
    * hamming ≤ 7 agrees exactly on ≥ 1 band, so blocking on
    * (band, value) has no false negatives and the hamming filter
    * kills the false positives — and the result set is
    * BAND-LAYOUT-INVARIANT (it is exactly the hamming ≤ 7 pair set),
    * so the corpus-adaptive grid ([[phashGridBlocks]]: band width
    * grows with log N, holding Σ|band bucket|² linear) changes the
    * WORK, never the semantics at a given grid. Hot buckets spread
    * over bounded sub-tasks via the salted block join (the simhash
    * scale argument, verbatim).
    *
    * Runs over the [[phashMediaTable]] fixture (see there for why the
    * text surface cannot carry this gate); each base's two variants
    * differ in one block → ≤ 2 gradient bits, so the planted pairs
    * MUST surface, while cross-base textures sit ~31 bits apart and
    * only meet through the hamming filter killing band-collision
    * false positives. Non-image containers are excluded by the
    * decoder's magic dispatch; payloads under 64 pixels cannot fill
    * the downsample grid and are skipped on both engines.
    */
  def perceptualNearDupPairs(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = 7,
      targetRows: Long = 1L << 16,
  ): DataFrame = {
    // the pigeonhole argument needs maxHamming + 1 disjoint bands;
    // the band split is fixed at 8 (dhashBands)
    require(maxHamming == 7, s"band split is fixed at 8 (maxHamming 7), got $maxHamming")
    // corpus-adaptive grid (one bounded driver action): the band
    // width grows with log N so buckets stay bounded — see
    // phashGridBlocks for the measured quadratic this kills
    val blocks = phashGridBlocks(2L * Tables(spark, dir, "documents").count())
    // Fingerprint ONCE and materialize the tiny (id, bands) proxy
    // (≈ 70 B/row), then derive BOTH join sides from it (round 14,
    // guide §8: decide on a lightweight proxy, never re-derive it).
    // The unmaterialized form synthesized + decoded the full media
    // fixture THREE times per build — once per join side plus once
    // for the salted join's block-size pass — because nothing told
    // Spark the three subtrees were the same corpus-scale decode.
    // localCheckpoint also makes the a/b self-join unambiguous
    // (LogicalRDD is a MultiInstanceRelation), which is why the two
    // sides no longer need fresh synthesis lineages.
    val fps = {
      import spark.implicits._
      checkpointFingerprints(
        phashMediaTable(spark, dir, blocks)
          .mapPartitions(_.flatMap(fingerprintOf(_, blocks))) // decoder amortizes per partition
          .toDF("id", "bands"))
    }
    Skew
      .saltedBlockJoin(withBandKeys(fps, "a"), withBandKeys(fps, "b"), "__bucket", "doc_a", targetRows)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bandHamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** The persisted RDDs behind the fingerprint proxies that pair
    * builds ([[perceptualNearDupPairs]], [[audioNearDupPairs]]) have
    * local-checkpointed since the last [[invalidate]]. A pair table
    * reads its proxy for as long as it lives, so the reset releases
    * them: Spark's cleaner would find one only after a garbage
    * collection, and a reset must leave nothing persisted.
    */
  private val fingerprintCheckpoints = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]
  graft.util.Artifacts.onReset(this) {
    Iterator.continually(fingerprintCheckpoints.poll()).takeWhile(_ != null).foreach(_.unpersist())
  }

  private def checkpointFingerprints(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.queryExecution.logical.foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD => fingerprintCheckpoints.add(r.rdd)
      case _ => ()
    }
    cp
  }

  private val phashPairsCache = graft.util.Artifacts.memo(this, "graft_phash_pairs")

  /** Memoized [[perceptualNearDupPairs]] — one persisted copy of the
    * verified pair table serves both consumers (the pair gate and the
    * keep policy) per (session, dir), exactly the
    * `Dedup.minhashLshPairsShared` contract: at deployment scale the
    * pair table is a stored artifact every downstream policy reads,
    * and [[invalidate]] drops it between timed runs so the first
    * consumer of a run pays the one build.
    */
  private def phashPairsShared(spark: SparkSession, dir: String): DataFrame =
    phashPairsCache(spark, dir)(perceptualNearDupPairs(spark, dir))

  /** Drop the memoized pair artifacts (benchmark hygiene) and the
    * fingerprint checkpoints under them. A pair frame built before the
    * call can no longer be read after it.
    */
  def invalidate(): Unit = graft.util.Artifacts.reset(this)

  /** The pair gate's entry point: the shared artifact, so the pair
    * table is built once per (session, dir) however many policies
    * read it.
    */
  def perceptualNearDupPairsGate(spark: SparkSession, dir: String): DataFrame =
    phashPairsShared(spark, dir)

  /** Perceptual keep policy — the image tier's SemDeDup analogue
    * (`Similarity.semanticKeep` for pixels): perceptual near-dup
    * pairs ([[perceptualNearDupPairs]], via the shared artifact)
    * close under connected components (pairs alone under-delete:
    * a~b, b~c is ONE redundant group), every media id gets a verdict
    * (singletons implicit: cluster = self), and exactly the
    * component-minimum id survives per cluster. At 100 TB this is
    * the table the curation join consumes to drop re-encoded/
    * re-touched image copies.
    */
  def perceptualKeep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = phashPairsShared(spark, dir).select(col("doc_a"), col("doc_b"))
    val cc = Dedup.connectedComponents(pairs)
    Tables(spark, dir, "documents")
      .select(explode(array(col("doc_id") * 2, col("doc_id") * 2 + 1)).as("media_id"))
      .join(cc, col("media_id") === col("doc_id"), "left")
      .select(
        col("media_id"),
        coalesce(col("cluster_id"), col("media_id")).as("media_cluster"),
        (coalesce(col("cluster_id"), col("media_id")) === col("media_id"))
          .cast("int")
          .as("is_kept"),
      )
  }

  /** The perceptual tier's band-index REFRESH loop — the maintenance
    * leg every other served family already has (minhash
    * `dedup_index_refresh`, tf `boilerplate_index_refresh`, PQ
    * `pq_codebook_refresh`, semantic `decontamination_bank_refresh`):
    * a new media era folds into the stored (band, value) index
    * WITHOUT re-fingerprinting the old corpus, and the next era's
    * arrivals probe the refreshed index.
    *
    * Era layout (the [[graft.operators.Dedup.minhashRefreshFoldedProbe]]
    * cutoffs, applied to media BASE ids): the stored index covers
    * bases ≤ 70% of max doc_id, the landed increment the (70%, 85%]
    * slice, and the probe audience every base past 85%. The refresh
    * is the fold: a fingerprint is a PER-MEDIA deterministic map-side
    * computation, so folding an increment in is appending its
    * (id, band, value) rows — an append-only partition write against
    * the index table at 100 TB, the stored slice never rescanned.
    * Because fingerprinting is order-independent, the folded index is
    * value-equal to a from-scratch rebuild ([[phashRefreshRebuiltProbe]],
    * the executable spec twin — row-equality pinned in ExtensionsSpec),
    * and the DuckDB oracle computes the REBUILT form, so the gate's
    * tri-SF hash-match IS the fold == rebuild proof (the bank-refresh
    * convention).
    *
    * Probe semantics are the batch pairing's ([[perceptualNearDupPairs]]):
    * arriving media fingerprint map-side, collide with the index on
    * the 8-band pigeonhole multi-index (salted — never all-pairs),
    * verify by hamming ≤ 7; increment × increment pairs go through
    * the same banded join on a second fresh lineage. Output is the
    * verified pair set touching the probe era.
    */
  def phashRefreshFoldedProbe(spark: SparkSession, dir: String): DataFrame =
    phashRefreshProbe(spark, dir, rebuild = false)

  /** The from-scratch-rebuild twin of [[phashRefreshFoldedProbe]] —
    * one fingerprint pass over every stored media item (the policy a
    * deployment falls back to when the index table needs compaction,
    * e.g. after a [[phashGridBlocks]] tier transition, which
    * invalidates stored fingerprints wholesale).
    */
  def phashRefreshRebuiltProbe(spark: SparkSession, dir: String): DataFrame =
    phashRefreshProbe(spark, dir, rebuild = true)

  private def phashRefreshProbe(
      spark: SparkSession,
      dir: String,
      rebuild: Boolean,
      targetRows: Long = 1L << 16,
  ): DataFrame = {
    // grid + both era cutoffs in ONE bounded driver action, spliced
    // as literals so the base-id slice predicates reach the documents
    // scan (the r10 data-dependent-scalar rule)
    val cuts = Tables(spark, dir, "documents")
      .agg(
        count(lit(1)).as("n"),
        expr("7 * max(doc_id) DIV 10").as("c1"),
        expr("85 * max(doc_id) DIV 100").as("c2"),
      )
      .head
    val (c1, c2) = (cuts.getLong(1), cuts.getLong(2))
    val blocks = phashGridBlocks(2L * cuts.getLong(0))
    // fresh lineage per call (the emb/embPlain discipline); the base
    // slice filters BEFORE synthesis, so only the era's documents are
    // read and fingerprinted
    def fpSlice(pred: org.apache.spark.sql.Column): DataFrame = {
      import spark.implicits._
      Tables(spark, dir, "documents")
        .select(col("doc_id"))
        .filter(pred)
        .as[Long]
        .mapPartitions(_.flatMap(base =>
          phashVariantPair(base, blocks).flatMap(fingerprintOf(_, blocks))))
        .toDF("id", "bands")
    }
    // Materialize each era's tiny (id, bands) fingerprint table ONCE
    // (round 14, guide §8): the probe joins below consume every slice
    // 2–4 times (the salted join's block-size pass re-reads its `a`
    // side, and `incoming` feeds both the new×old and new×new legs),
    // and an unmaterialized lineage re-synthesized + re-decoded the
    // era's media per consumer — 22 parquet scans / 22 synthesis
    // passes in the committed r13 plan, now exactly one synthesis
    // per era. The fold semantics are unchanged and now PHYSICAL:
    // the folded index is literally the stored slice's rows with the
    // increment's rows appended, each media item fingerprinted once.
    val idxFp =
      (if (rebuild) fpSlice(col("doc_id") <= c2)
       else
         // the fold: stored index rows ∪ the landed increment's rows —
         // each media item fingerprinted exactly once, old never rescanned
         fpSlice(col("doc_id") <= c1)
           .unionByName(fpSlice(col("doc_id") > c1 && col("doc_id") <= c2))).localCheckpoint()
    val incomingFp = fpSlice(col("doc_id") > c2).localCheckpoint()
    val incoming = withBandKeys(incomingFp, "b")
    // index ids are < every probe id (base ≤ c2 < base'), so the
    // a < b pair convention holds for free on the new × old leg
    val newOld = Skew
      .saltedBlockJoin(withBandKeys(idxFp, "a"), incoming, "__bucket", "doc_a", targetRows)
      .withColumn("hamming", bandHamming)
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val newNew = Skew
      .saltedBlockJoin(withBandKeys(incomingFp, "a"), incoming, "__bucket", "doc_a", targetRows)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bandHamming)
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    newOld.unionByName(newNew).distinct()
  }

  /** Audio corpus accounting — the "how many hours at which sample
    * rates" table every audio dataset report leads with: per
    * (sample_rate, n_channels) bucket, file count, total PCM sample
    * frames, and total duration (per-file ⌊1000·samples/rate⌋ ms,
    * integer-exact cross-engine). Rides the decoded WAV shape from
    * [[decodeFeatures]] (fmt/data chunk walk — audio rows are the
    * ones the magic dispatch decoded a sample_rate for, never the
    * metadata column); one per-partition decode pass, one
    * |rate × channels|-key combine shuffle — scan speed at 100 TB.
    */
  def audioStats(spark: SparkSession, dir: String): DataFrame =
    decodeFeatures(asMediaTable(spark, dir))
      .toDF()
      .filter(col("sample_rate") > 0)
      .withColumn("duration_ms", expr("(1000 * n_samples) div sample_rate"))
      .groupBy("sample_rate", "n_channels")
      .agg(
        count(lit(1)).as("n_files"),
        sum(col("n_samples")).as("total_samples"),
        sum(col("duration_ms")).as("total_duration_ms"),
      )

  /** One generated audio-fixture variant (the [[audioMediaTable]]
    * unit): mono 16-bit PCM, m = max(256, 2·blocks + 64) + base % 101
    * frames of 4 samples, each frame's samples the first four md5
    * bytes of "base|a|frame" (the phash texture rule with an
    * audio-tier salt so the two fixtures decorrelate), wrapped in a
    * real WAV container. v = 1 bumps every sample of exactly the
    * frames in ONE 64-grid downsample block (+25/sample → +100 frame
    * energy) — the LOCAL perturbation a re-encoded/re-mastered clip
    * exhibits, which is what perceptual audio hashing detects (a
    * time-SHIFTED clip is fuzzy-match territory, same division of
    * labor as the image tier's shift postmortem). Samples stay ≤ 280,
    * so the sign bit of the LE16 encoding is never set and |s| = s on
    * both engines.
    *
    * The frame count is GRID-ADAPTIVE (the [[phashVariantRecord]]
    * rule, applied here after the r12 advice): the historical fixed
    * 256-frame floor exactly equaled the 256-block grid cap, so
    * [[audioFingerprintOf]]'s m < blocks skip guard was unreachable
    * only by coincidence — a 512 grid tier (or a smaller floor) would
    * have silently diverged from the oracle, which has no matching
    * skip clause. max(256, 2·blocks + 64) keeps the 64-block tier —
    * every driver SF (≤ 5000 docs) — BIT-IDENTICAL to the historical
    * surface (floor 256); at 128 blocks the floor becomes 320 ≠ 256,
    * so ≥ 25k-doc rehearsal corpora regenerate DIFFERENT fingerprints
    * than pre-r13 rounds (consistently on both engines — the oracle
    * synthesizes the same frames, so cross-engine agreement is
    * unaffected; only cross-ROUND fixture comparability at the 128
    * tier is lost). In exchange every tier gets ≥ 2 frames per
    * block, so the skip guard stays unreachable on the fixture BY
    * CONSTRUCTION and both engines agree without an oracle-side skip. `blocks` is
    * explicit, no default — a caller passing a stale grid would
    * synthesize a surface the operative grid silently skips, the
    * vacuous-green failure mode.
    */
  private[graft] def audioVariantRecord(base: Long, v: Int, blocks: Int): MediaRecord = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val m = math.max(256, 2 * blocks + 64) + (base % 101).toInt
    val hot = (base % 64).toInt
    val samples = new Array[Int](4 * m)
    var k = 0
    while (k < m) {
      md.reset()
      val dg = md.digest(s"$base|a|$k".getBytes("UTF-8"))
      val blk = ((64L * k + 63) / m).toInt
      val bump = if (v == 1 && blk == hot) 25 else 0
      var t = 0
      while (t < 4) { samples(4 * k + t) = (dg(t) & 0xff) + bump; t += 1 }
      k += 1
    }
    val payload = new Array[Byte](8 * m)
    var j = 0
    while (j < 4 * m) {
      payload(2 * j) = (samples(j) & 0xff).toByte
      payload(2 * j + 1) = ((samples(j) >> 8) & 0xff).toByte
      j += 1
    }
    MediaRecord(
      base * 2 + v,
      "wav",
      MediaPayload.wav(8000 + (base % 5).toInt * 2000, 1, payload))
  }

  /** BOTH variants of a base clip in one texture pass — the
    * [[phashVariantPair]] rule for the audio tier: the md5 frame
    * texture depends on (base, k) alone (v only bumps the hot
    * block's samples), so one ~(max(256, 2·blocks+64))-digest pass
    * fills both PCM surfaces. Records are BIT-IDENTICAL to
    * `Seq(audioVariantRecord(base, 0, blocks),
    * audioVariantRecord(base, 1, blocks))` (pinned in ExtensionsSpec).
    */
  private[graft] def audioVariantPair(base: Long, blocks: Int): Seq[MediaRecord] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val m = math.max(256, 2 * blocks + 64) + (base % 101).toInt
    val hot = (base % 64).toInt
    val payload0 = new Array[Byte](8 * m)
    val payload1 = new Array[Byte](8 * m)
    var k = 0
    while (k < m) {
      md.reset()
      val dg = md.digest(s"$base|a|$k".getBytes("UTF-8"))
      val blk = ((64L * k + 63) / m).toInt
      val bump = if (blk == hot) 25 else 0
      var t = 0
      while (t < 4) {
        val s0 = dg(t) & 0xff
        val s1 = s0 + bump
        val j = 4 * k + t
        payload0(2 * j) = (s0 & 0xff).toByte
        payload0(2 * j + 1) = ((s0 >> 8) & 0xff).toByte
        payload1(2 * j) = (s1 & 0xff).toByte
        payload1(2 * j + 1) = ((s1 >> 8) & 0xff).toByte
        t += 1
      }
      k += 1
    }
    val rate = 8000 + (base % 5).toInt * 2000
    Seq(
      MediaRecord(base * 2, "wav", MediaPayload.wav(rate, 1, payload0)),
      MediaRecord(base * 2 + 1, "wav", MediaPayload.wav(rate, 1, payload1)),
    )
  }

  /** The audio perceptual-dedup fixture: one base clip per document,
    * two variants per base (media id = doc_id·2 + v), every sample an
    * integer function of (doc_id, frame) so the DuckDB oracle
    * regenerates the surface analytically — no bytes cross engines.
    * Payloads are real WAV containers, so the gate exercises the full
    * decode path: magic dispatch → fmt/data chunk walk → PCM parse →
    * energy envelope → fingerprint.
    */
  private[graft] def audioMediaTable(
      spark: SparkSession,
      dir: String,
      blocks: Int,
  ): Dataset[MediaRecord] = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.flatMap(base => audioVariantPair(base, blocks)))
  }

  /** Decode → audio fingerprint: WAV payloads only (magic dispatch),
    * PCM → per-frame L1 energy (Σ|s| over 4-sample frames — integer-
    * exact; a squared envelope orders gradients identically on this
    * fixture but costs headroom) → [[signDeltaBands]] over the energy
    * envelope. Clips with fewer frames than the downsample grid are
    * skipped (a real short clip cannot fill the grid); the DuckDB
    * oracle has NO matching skip clause, which is safe because the
    * fixture's grid-adaptive frame floor ([[audioVariantRecord]]:
    * max(256, 2·blocks + 64)) keeps the guard unreachable on fixture
    * input at every grid tier BY CONSTRUCTION — both engines agree
    * without modeling the skip.
    */
  private[graft] def audioFingerprintOf(r: MediaRecord, blocks: Int): Option[(Long, Array[Long])] =
    HeaderDecode.wavPcm16(r.content).flatMap { s =>
      val m = s.length / 4
      if (m < blocks) None
      else {
        val e = new Array[Long](m)
        var k = 0
        while (k < m) {
          e(k) = math.abs(s(4 * k)).toLong + math.abs(s(4 * k + 1)) +
            math.abs(s(4 * k + 2)) + math.abs(s(4 * k + 3))
          k += 1
        }
        Some((r.doc_id, signDeltaBands(e, blocks)))
      }
    }

  /** Perceptual AUDIO near-dup pairs — the dHash analogue over the
    * WAV decode path ([[audioFingerprintOf]]): sign-of-delta bits
    * over the frame-energy envelope, banded and paired EXACTLY like
    * the image tier ([[perceptualNearDupPairs]] — 8-band pigeonhole
    * multi-index, corpus-adaptive grid, salted hot buckets, never
    * all-pairs; the result set is the hamming ≤ 7 pair set, band-
    * layout-invariant). Runs over the [[audioMediaTable]] fixture:
    * each base's two variants differ in one energy block → ≤ 2
    * gradient bits, so planted pairs MUST surface; cross-base md5
    * textures decorrelate and survive only through the hamming
    * filter killing band-collision false positives.
    */
  def audioNearDupPairs(
      spark: SparkSession,
      dir: String,
      maxHamming: Int = 7,
      targetRows: Long = 1L << 16,
  ): DataFrame = {
    require(maxHamming == 7, s"band split is fixed at 8 (maxHamming 7), got $maxHamming")
    val blocks = phashGridBlocks(2L * Tables(spark, dir, "documents").count())
    // fingerprint ONCE, materialize the tiny (id, bands) proxy, and
    // derive both join sides from it — see [[perceptualNearDupPairs]]
    // for the §8 rationale (the unmaterialized form paid THREE full
    // WAV synthesis + decode passes per build)
    val fps = {
      import spark.implicits._
      checkpointFingerprints(
        audioMediaTable(spark, dir, blocks)
          .mapPartitions(_.flatMap(audioFingerprintOf(_, blocks)))
          .toDF("id", "bands"))
    }
    Skew
      .saltedBlockJoin(withBandKeys(fps, "a"), withBandKeys(fps, "b"), "__bucket", "doc_a", targetRows)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bandHamming)
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  private val audioPairsCache = graft.util.Artifacts.memo(this, "graft_audio_pairs")

  /** Memoized [[audioNearDupPairs]] — the [[phashPairsShared]]
    * contract for the audio tier: one persisted verified pair table
    * serves the pair gate and the keep policy per (session, dir);
    * [[invalidate]] drops it between timed runs.
    */
  private def audioPairsShared(spark: SparkSession, dir: String): DataFrame =
    audioPairsCache(spark, dir)(audioNearDupPairs(spark, dir))

  def audioNearDupPairsGate(spark: SparkSession, dir: String): DataFrame =
    audioPairsShared(spark, dir)

  /** Perceptual keep policy for the AUDIO tier — [[perceptualKeep]]
    * over the audio pair artifact: near-dup pairs close under
    * connected components (pairs alone under-delete), every clip
    * gets a verdict (singletons implicit: cluster = self), exactly
    * the component-minimum media id survives. The table the curation
    * join consumes to drop re-mastered / re-encoded audio copies —
    * same 100-TB shape as the image tier (graph is dup-density-
    * sized, CC touches only the graph, the corpus never shuffles).
    */
  def audioKeep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = audioPairsShared(spark, dir).select(col("doc_a"), col("doc_b"))
    val cc = Dedup.connectedComponents(pairs)
    Tables(spark, dir, "documents")
      .select(explode(array(col("doc_id") * 2, col("doc_id") * 2 + 1)).as("media_id"))
      .join(cc, col("media_id") === col("doc_id"), "left")
      .select(
        col("media_id"),
        coalesce(col("cluster_id"), col("media_id")).as("media_cluster"),
        (coalesce(col("cluster_id"), col("media_id")) === col("media_id"))
          .cast("int")
          .as("is_kept"),
      )
  }

  /** The AUDIO tier's band-index refresh loop —
    * [[phashRefreshFoldedProbe]] replayed over the WAV decode path,
    * completing the perceptual family's maintenance symmetry (both
    * tiers now have pairs + keep + ingest probe + refresh): a new
    * clip era folds into the stored (band, value) index as a pure
    * append (energy fingerprints are per-clip map-side; the stored
    * corpus is never re-decoded), and the next era's arrivals probe
    * the refreshed index through the same salted 8-band pigeonhole
    * pairing. Oracle computes the REBUILT index, so the hash-match is
    * the fold == rebuild proof; [[audioRefreshRebuiltProbe]] is the
    * executable twin (row-equality pinned in ExtensionsSpec).
    */
  def audioRefreshFoldedProbe(spark: SparkSession, dir: String): DataFrame =
    audioRefreshProbe(spark, dir, rebuild = false)

  /** The from-scratch-rebuild twin of [[audioRefreshFoldedProbe]]
    * (the compaction / grid-transition fallback policy).
    */
  def audioRefreshRebuiltProbe(spark: SparkSession, dir: String): DataFrame =
    audioRefreshProbe(spark, dir, rebuild = true)

  private def audioRefreshProbe(
      spark: SparkSession,
      dir: String,
      rebuild: Boolean,
      targetRows: Long = 1L << 16,
  ): DataFrame = {
    val cuts = Tables(spark, dir, "documents")
      .agg(
        count(lit(1)).as("n"),
        expr("7 * max(doc_id) DIV 10").as("c1"),
        expr("85 * max(doc_id) DIV 100").as("c2"),
      )
      .head
    val (c1, c2) = (cuts.getLong(1), cuts.getLong(2))
    val blocks = phashGridBlocks(2L * cuts.getLong(0))
    def fpSlice(pred: org.apache.spark.sql.Column): DataFrame = {
      import spark.implicits._
      Tables(spark, dir, "documents")
        .select(col("doc_id"))
        .filter(pred)
        .as[Long]
        .mapPartitions(_.flatMap(base =>
          audioVariantPair(base, blocks).flatMap(audioFingerprintOf(_, blocks))))
        .toDF("id", "bands")
    }
    // materialize each era's fingerprint slice once — see
    // [[phashRefreshProbe]] for the §8 rationale (22 synthesis passes
    // in the committed r13 plan, now one per era)
    val idxFp =
      (if (rebuild) fpSlice(col("doc_id") <= c2)
       else
         fpSlice(col("doc_id") <= c1)
           .unionByName(fpSlice(col("doc_id") > c1 && col("doc_id") <= c2))).localCheckpoint()
    val incomingFp = fpSlice(col("doc_id") > c2).localCheckpoint()
    val incoming = withBandKeys(incomingFp, "b")
    val newOld = Skew
      .saltedBlockJoin(withBandKeys(idxFp, "a"), incoming, "__bucket", "doc_a", targetRows)
      .withColumn("hamming", bandHamming)
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    val newNew = Skew
      .saltedBlockJoin(withBandKeys(incomingFp, "a"), incoming, "__bucket", "doc_a", targetRows)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bandHamming)
      .filter(col("hamming") <= 7)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    newOld.unionByName(newNew).distinct()
  }

  /** Frame sampling: explode each media payload into one row per
    * sampled frame — the generator/explode shape of per-frame feature
    * extraction. The frame count is a deterministic function of the
    * payload size (a pseudo-duration), so the expansion is
    * oracle-checkable; a real video decoder swaps the count source
    * only.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    val nBytes = octet_length(col("text")).cast("long")
    Tables(spark, dir, "documents")
      .select(
        col("doc_id"),
        explode(sequence(lit(0L), nBytes % 24)).as("frame_idx"),
      )
  }
}
