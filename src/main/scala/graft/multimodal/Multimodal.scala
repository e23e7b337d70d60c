package graft.multimodal

import graft.obs.Obs
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column support (north star): image/audio/video as opaque
  * `binary` columns with typed metadata, processed in partition-sized
  * batches.
  *
  * The Spark-side plumbing is real — binary columns, schema, partition
  * batching via `mapPartitions` (the JVM analogue of `mapInPandas`: one
  * iterator per partition, amortized per-batch setup, no per-row driver
  * involvement) — and so are ALL THREE decodes: [[ImageCodec]] encodes,
  * header-decodes, and resizes PNG/JPEG through the JDK's built-in
  * `javax.imageio`; [[AudioCodec]] encodes and header-decodes PCM WAV
  * through the JDK's built-in `javax.sound.sampled`; [[VideoCodec]]
  * writes and parses real MP4 (ISO-BMFF) containers with a pure-JVM box
  * walker — width/height from `tkhd`, frame count from `stsz`. No
  * external jar for any of them. Pixel/sample DECOMPRESSION of video
  * (H.264 et al.) is the one thing that would need a codec binding in a
  * deployment; everything the engine computes here is container-header
  * metadata, which is also the only thing that scales to 100 TB.
  *
  * Scale notes: decode cost dominates at 100 TB, so the operator must
  * (a) run per-partition with zero driver round-trips — it does, via
  * mapPartitions; (b) avoid shuffles — it is map-only; (c) let the
  * scan prune to the binary column + id only — schema keeps media in a
  * single binary field per row; (d) never touch local disk — ImageIO's
  * temp-file stream cache is disabled, all streams are in-memory.
  */
object Multimodal {
  /** Typed metadata extracted from a media blob. */
  case class MediaMeta(n_bytes: Long, format: String, width: Int,
      height: Int, n_frames: Int)

  case class MediaRow(media_id: Long, media_type: String, content: Array[Byte])

  case class DecodedRow(media_id: Long, media_type: String, n_bytes: Long,
      format: String, width: Int, height: Int, n_frames: Int)

  /** REAL image codec over the JDK's `javax.imageio` — PNG and JPEG
    * encode/decode with zero external dependencies.
    *
    * [[decodeMeta]] is a header-only read (`ImageReader.getWidth/Height`
    * on the stream — no pixel decode), the form that scales: metadata
    * extraction over 100 TB of images should not pay full decompression.
    * [[resize]] is the full path: pixel decode → `Graphics2D` bilinear
    * scale → re-encode in the source format.
    */
  object ImageCodec {
    import java.awt.RenderingHints
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    // executor-side: keep ImageInputStreams in memory, never a temp file
    ImageIO.setUseCache(false)

    /** Encode a deterministic test-pattern image (pixel = f(x, y, seed))
      * as `format` ("png" | "jpeg"). PNG is lossless, so an encode →
      * decode round trip is pixel-exact — the fixture generator for
      * specs and the planted corpus in [[documentBlobs]].
      */
    def encode(width: Int, height: Int, seed: Long, format: String): Array[Byte] = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          img.setRGB(x, y, ((x * 31 + y * 17 + seed) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      val bos = new ByteArrayOutputStream()
      require(ImageIO.write(img, format, bos), s"no ImageIO writer for $format")
      bos.toByteArray
    }

    /** Header-only metadata — no pixel decompression. PNG and JPEG (the
      * formats this engine writes) dispatch on their magic bytes to a
      * direct header parse from the public byte layouts: PNG's IHDR chunk
      * sits at a fixed offset after the 8-byte signature (width/height
      * big-endian at 16/20); JPEG walks the marker stream to the first
      * start-of-frame segment (height then width after the 2-byte length
      * and 1-byte precision). That is ~10× cheaper per blob than spinning
      * up an `ImageReader` from the ImageIO service registry — the cost
      * that dominates metadata extraction over millions of images.
      * Unknown magics fall back to the full ImageIO reader lookup, so any
      * format the JDK can sniff still decodes.
      */
    def decodeMeta(bytes: Array[Byte]): MediaMeta = {
      def be32(o: Int): Int =
        ((bytes(o) & 0xff) << 24) | ((bytes(o + 1) & 0xff) << 16) |
          ((bytes(o + 2) & 0xff) << 8) | (bytes(o + 3) & 0xff)
      def be16(o: Int): Int = ((bytes(o) & 0xff) << 8) | (bytes(o + 1) & 0xff)
      if (bytes.length > 24 && be32(0) == 0x89504e47 && be32(4) == 0x0d0a1a0a
          && be32(12) == 0x49484452) // "IHDR"
        MediaMeta(bytes.length.toLong, "png", be32(16), be32(20), n_frames = 1)
      else if (bytes.length > 4 && (bytes(0) & 0xff) == 0xff
          && (bytes(1) & 0xff) == 0xd8) {
        // walk JPEG markers to the first SOFn (C0–CF minus DHT C4,
        // JPG C8, DAC CC); every other segment skips by its length field
        var o = 2
        var meta: MediaMeta = null
        while (meta == null && o + 9 < bytes.length) {
          if ((bytes(o) & 0xff) != 0xff)
            throw new IllegalArgumentException("malformed JPEG marker stream")
          val m = bytes(o + 1) & 0xff
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
            meta = MediaMeta(bytes.length.toLong, "jpeg",
              width = be16(o + 7), height = be16(o + 5), n_frames = 1)
          else if (m == 0xd8 || (m >= 0xd0 && m <= 0xd9)) o += 2 // bare marker
          else o += 2 + be16(o + 2)
        }
        require(meta != null, "JPEG payload has no start-of-frame segment")
        meta
      } else imageIoMeta(bytes)
    }

    /** ImageIO-registry fallback for formats without a dedicated header
      * parse above: reader sniff + header-only getWidth/getHeight. */
    private[multimodal] def imageIoMeta(bytes: Array[Byte]): MediaMeta = {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        require(readers.hasNext, "undecodable image payload")
        val r = readers.next()
        try {
          r.setInput(iis)
          MediaMeta(bytes.length.toLong, r.getFormatName.toLowerCase,
            r.getWidth(0), r.getHeight(0), n_frames = 1)
        } finally r.dispose()
      } finally iis.close()
    }

    /** Real resize: full decode, bilinear `Graphics2D` scale so
      * max(w, h) <= maxSide (never upscales), re-encode in the source
      * format. Scale arithmetic is IEEE double multiply + truncation —
      * replayable exactly by the SQL oracle.
      */
    def resize(bytes: Array[Byte], maxSide: Int): Array[Byte] = {
      val format = decodeMeta(bytes).format
      val src = ImageIO.read(new ByteArrayInputStream(bytes))
      val scale = math.min(1.0, maxSide.toDouble / math.max(src.getWidth, src.getHeight))
      val rw = math.max(1, (src.getWidth * scale).toInt)
      val rh = math.max(1, (src.getHeight * scale).toInt)
      val dst = new BufferedImage(rw, rh, BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(src, 0, 0, rw, rh, null)
      } finally g.dispose()
      val bos = new ByteArrayOutputStream()
      require(ImageIO.write(dst, format, bos), s"no ImageIO writer for $format")
      bos.toByteArray
    }
  }

  /** REAL audio codec over the JDK's `javax.sound.sampled` — WAV (PCM)
    * encode/decode with zero external dependencies, mirroring
    * [[ImageCodec]]'s role for images.
    *
    * [[decodeMeta]] parses only the RIFF/fmt header
    * (`AudioSystem.getAudioFileFormat` — no sample data is read), the
    * form that scales to metadata extraction over 100 TB of audio.
    * Audio reuses the generic [[MediaMeta]] slots: `width` = sample rate
    * (Hz), `height` = channel count, `n_frames` = PCM frame count — one
    * denormalized meta row shape across media types, same trade a
    * production media warehouse makes.
    */
  object AudioCodec {
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    /** Deterministic 16-bit PCM mono WAV fixture (sample = f(i, seed)) —
      * the audio analogue of [[ImageCodec.encode]]'s test pattern. WAV is
      * lossless, so planted (rate, frames) survive an encode → decode
      * round trip exactly.
      */
    def encode(nSamples: Int, sampleRateHz: Int, seed: Long): Array[Byte] = {
      val pcm = new Array[Byte](nSamples * 2)
      var i = 0
      while (i < nSamples) {
        val s = (((i * 2654435761L + seed) & 0xffffL) - 32768L).toShort
        pcm(2 * i) = (s & 0xff).toByte // little-endian per the format below
        pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(sampleRateHz.toFloat, 16, 1, true, false)
      val ais = new AudioInputStream(
        new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Header-only metadata: container type + PCM parameters from the
      * RIFF header — no sample decode. */
    def decodeMeta(bytes: Array[Byte]): MediaMeta = {
      val aff = AudioSystem.getAudioFileFormat(new ByteArrayInputStream(bytes))
      val f = aff.getFormat
      MediaMeta(bytes.length.toLong, aff.getType.getExtension.toLowerCase,
        width = f.getSampleRate.toInt, height = f.getChannels,
        n_frames = aff.getFrameLength)
    }
  }

  /** REAL video container codec: a pure-JVM MP4 (ISO/IEC 14496-12
    * ISO-BMFF) box writer + parser — the same move that made images and
    * audio real. No codec jar is needed to read container METADATA: the
    * `moov/trak/tkhd` box carries the track's width/height (16.16 fixed
    * point) and `moov/trak/mdia/minf/stbl/stsz` the sample (frame) count,
    * all plain big-endian byte layout from the public spec. Pixel DECODE
    * (H.264 et al.) genuinely needs a codec and is out of scope — but
    * metadata extraction, frame-sample planning, and resize planning over
    * 100 TB of video are header reads, exactly like [[ImageCodec
    * .decodeMeta]]'s no-pixel path, and that is what the engine runs.
    */
  object VideoCodec {
    private def be16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def be32(v: Long): Array[Byte] =
      Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    private def box(tpe: String, payload: Array[Byte]*): Array[Byte] = {
      val body = payload.flatten.toArray
      be32(body.length + 8L) ++ tpe.getBytes("US-ASCII") ++ body
    }

    /** Deterministic minimal-but-valid MP4: ftyp + moov(mvhd,
      * trak(tkhd[width,height], mdia(mdhd, hdlr'vide',
      * minf(vmhd, stbl(stts, stsz[nFrames], stco))))) + mdat. Planted
      * (width, height, nFrames) survive an encode → decode round trip
      * exactly — the fixture generator for specs and [[documentBlobs]].
      */
    def encode(width: Int, height: Int, nFrames: Int, seed: Long): Array[Byte] = {
      val vf0 = be32(0) // version 0 + zero flags
      val unityMatrix = (Seq(0x10000L, 0L, 0L, 0L, 0x10000L, 0L, 0L, 0L) ++
        Seq(0x40000000L)).flatMap(be32).toArray
      val durationMs = nFrames * 40L // 25 fps on a 1000-tick timescale
      val mvhd = box("mvhd", vf0, be32(0), be32(0), be32(1000),
        be32(durationMs), be32(0x10000), be16(0x0100),
        new Array[Byte](10), unityMatrix, new Array[Byte](24), be32(2))
      val tkhd = box("tkhd", be32(7) /* v0, flags enabled+in-movie */,
        be32(0), be32(0), be32(1), be32(0), be32(durationMs),
        new Array[Byte](8), be16(0), be16(0), be16(0), be16(0), unityMatrix,
        be32(width.toLong << 16), be32(height.toLong << 16))
      val mdhd = box("mdhd", vf0, be32(0), be32(0), be32(1000),
        be32(durationMs), be16(0x55c4) /* 'und' */, be16(0))
      val hdlr = box("hdlr", vf0, be32(0), "vide".getBytes("US-ASCII"),
        new Array[Byte](12), "VideoHandler".getBytes("US-ASCII"),
        Array(0.toByte))
      val vmhd = box("vmhd", be32(1), be16(0), new Array[Byte](6))
      val stts = box("stts", vf0, be32(1), be32(nFrames.toLong), be32(40))
      val sizes = (0 until nFrames)
        .flatMap(i => be32(100 + ((seed + i * 31) & 0xff))).toArray
      val stsz = box("stsz", vf0, be32(0), be32(nFrames.toLong), sizes)
      val stco = box("stco", vf0, be32(0))
      val stbl = box("stbl", stts, stsz, stco)
      val minf = box("minf", vmhd, stbl)
      val mdia = box("mdia", mdhd, hdlr, minf)
      val trak = box("trak", tkhd, mdia)
      val moov = box("moov", mvhd, trak)
      val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), be32(0x200),
        "isommp42".getBytes("US-ASCII"))
      val mdat = box("mdat",
        (0 until 64).map(i => ((seed + i) & 0xff).toByte).toArray)
      ftyp ++ moov ++ mdat
    }

    private def rdBe32(b: Array[Byte], off: Int): Long =
      ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
        ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)
    private def rdBe64(b: Array[Byte], off: Int): Long =
      (rdBe32(b, off) << 32) | rdBe32(b, off + 4)
    private def tpeAt(b: Array[Byte], off: Int): String =
      new String(b, off + 4, 4, "US-ASCII")

    /** (payloadStart, payloadEnd) spans of child boxes in [start, end),
      * handling 32-bit sizes, 64-bit `largesize` (size == 1), and
      * to-end-of-container (size == 0). */
    private def children(b: Array[Byte], start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = Seq.newBuilder[(String, Int, Int)]
      var off = start
      while (off + 8 <= end) {
        val size32 = rdBe32(b, off)
        val (boxLen, hdr) =
          if (size32 == 1L && off + 16 <= end) (rdBe64(b, off + 8), 16)
          else if (size32 == 0L) ((end - off).toLong, 8)
          else (size32, 8)
        if (boxLen < hdr || off + boxLen > end) return out.result() // torn box
        out += ((tpeAt(b, off), off + hdr, off + boxLen.toInt))
        off += boxLen.toInt
      }
      out.result()
    }

    private def child(b: Array[Byte], start: Int, end: Int,
        tpe: String): Option[(Int, Int)] =
      children(b, start, end).collectFirst { case (`tpe`, s, e) => (s, e) }

    /** Header-only metadata: walk the box tree, no sample-data decode.
      * Width/height from the first video track's `tkhd` (version 0 or 1),
      * frame count from its `stsz`, format from the `ftyp` major brand.
      */
    def decodeMeta(bytes: Array[Byte]): MediaMeta = {
      val top = children(bytes, 0, bytes.length)
      val format = top.collectFirst { case ("ftyp", s, e) if e - s >= 4 =>
        val brand = new String(bytes, s, 4, "US-ASCII").trim.toLowerCase
        if (brand.startsWith("isom") || brand.startsWith("mp4")) "mp4" else brand
      }.getOrElse(throw new IllegalArgumentException(
        "undecodable video payload: no ftyp box"))
      val (moovS, moovE) = top.collectFirst { case ("moov", s, e) => (s, e) }
        .getOrElse(throw new IllegalArgumentException(
          "undecodable video payload: no moov box"))
      val traks = children(bytes, moovS, moovE).filter(_._1 == "trak")
      val parsed = traks.flatMap { case (_, ts, te) =>
        child(bytes, ts, te, "tkhd").map { case (hs, he) =>
          val version = bytes(hs) & 0xff
          val dimOff = hs + (if (version == 1) 88 else 76)
          require(dimOff + 8 <= he, "tkhd box too short")
          val w = (rdBe32(bytes, dimOff) >> 16).toInt
          val h = (rdBe32(bytes, dimOff + 4) >> 16).toInt
          val frames = for {
            (ms, me) <- child(bytes, ts, te, "mdia")
            (is, ie) <- child(bytes, ms, me, "minf")
            (ss, se) <- child(bytes, is, ie, "stbl")
            (zs, ze) <- child(bytes, ss, se, "stsz") if ze - zs >= 12
          } yield rdBe32(bytes, zs + 8).toInt
          (w, h, frames.getOrElse(0))
        }
      }
      // the video track is the one with pixel dimensions (audio/hint
      // tracks carry 0x0); fall back to the first track
      val (w, h, n) = parsed.find(t => t._1 > 0 && t._2 > 0)
        .orElse(parsed.headOption)
        .getOrElse(throw new IllegalArgumentException(
          "undecodable video payload: no trak/tkhd box"))
      MediaMeta(bytes.length.toLong, format, w, h, n)
    }
  }

  /** Resize planning shared by the metadata-plane paths: the scale
    * arithmetic (IEEE double multiply + truncation) both engines replay
    * bit-identically. */
  def scaledDims(w: Int, h: Int, maxSide: Int): (Int, Int) = {
    val scale = math.min(1.0, maxSide.toDouble / math.max(w, h))
    (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
  }

  /** Frame-sample plan: every k-th frame index out of `nFrames`. */
  def sampleFrames(nFrames: Int, every: Int): Seq[Int] =
    0 until nFrames by math.max(1, every)

  /** Batch decode over partitions — the mapInPandas-shaped operator.
    * Every media type goes through a REAL header read: images via
    * [[ImageCodec]], audio via [[AudioCodec]], video via the pure-JVM
    * ISO-BMFF box parser [[VideoCodec]].
    */
  def decodeMeta(rows: Dataset[MediaRow]): Dataset[DecodedRow] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      // per-partition (per-batch) decoder setup happens ONCE here
      it.map { r =>
        val m = decodeOne(r.media_type, r.content)
        DecodedRow(r.media_id, r.media_type, m.n_bytes, m.format, m.width,
          m.height, m.n_frames)
      }
    }
  }

  /** The header read of one blob by its media type's codec. */
  def decodeOne(mediaType: String, bytes: Array[Byte]): MediaMeta = mediaType match {
    case "image" => ImageCodec.decodeMeta(bytes)
    case "audio" => AudioCodec.decodeMeta(bytes)
    case "video" => VideoCodec.decodeMeta(bytes)
    case t => throw new IllegalArgumentException(s"unknown media type $t")
  }

  /** [[DecodedRow]] with failure as data: meta fields are None and
    * `error` carries the exception class when a blob does not decode. */
  case class DecodedTryRow(media_id: Long, media_type: String,
      n_bytes: Long, format: Option[String], width: Option[Int],
      height: Option[Int], n_frames: Option[Int], error: Option[String])

  /** Total (never-throwing) [[decodeMeta]] — the form a 100 TB corpus
    * needs: real corpora CONTAIN corrupt blobs, and a throwing decoder
    * turns one bad row into four task retries and a dead job (×every
    * partition that holds a bad blob). Each row decodes independently;
    * a failure yields the row with null meta and the exception class —
    * flagged, never fatal, never silently dropped — so downstream can
    * route errors to a quarantine sink while the good rows flow. Same
    * map-only batch plumbing as [[decodeMeta]].
    */
  def decodeMetaTotal(rows: Dataset[MediaRow]): Dataset[DecodedTryRow] = {
    import rows.sparkSession.implicits._
    rows.mapPartitions { it =>
      it.map { r =>
        try {
          val m = decodeOne(r.media_type, r.content)
          DecodedTryRow(r.media_id, r.media_type, m.n_bytes, Some(m.format),
            Some(m.width), Some(m.height), Some(m.n_frames), None)
        } catch { case scala.util.control.NonFatal(e) =>
          DecodedTryRow(r.media_id, r.media_type,
            (if (r.content == null) 0 else r.content.length).toLong,
            None, None, None, None, Some(e.getClass.getSimpleName))
        }
      }
    }
  }

  /** Route one batch of [[decodeMetaTotal]] output into the two tables a
    * curation pipeline maintains (the "updating datasets under
    * corruption" loop; reference analogue: the delta→merge idempotence
    * of `scripts/spark_merge_dfs.py:82-83`, extended with the error
    * plane):
    *
    *  - ok rows (`error IS NULL`) upsert the maintained meta table —
    *    the partition-pruned bucketed [[graft.merge.MergeTable]] MERGE,
    *    delta-wins per `media_id`, idempotent on replay;
    *  - error rows land in a keyed quarantine table with
    *    `status = 'quarantined'`;
    *  - ok rows whose key is CURRENTLY quarantined (a repaired blob
    *    re-decoded clean) are upserted into quarantine with
    *    `status = 'resolved'` — leaving quarantine is a keyed tombstone
    *    update, so the route is idempotent end to end: replaying the
    *    same decoded batch (streaming checkpoint recovery, crash rerun)
    *    re-merges every row to the value it already has.
    *
    * Contract: `decoded` is consumed EXACTLY ONCE — by the
    * normalization stage write below — so callers pass the LAZY decode
    * plan directly (no separate staging pair; pre-r16 the route required
    * a materialized input and every drain paid a redundant
    * write+read of the full decoded batch per micro-batch). The
    * normalization output staged to `scratch__norm` is the single
    * materialization, and it is what feeds the three downstream
    * consumers (main merge, quarantine delta, resolution); at 100 TB
    * the staged frame is meta-only (no blob bytes), a vanishing
    * fraction of the corpus. The quarantine delta is staged to
    * `scratch` BEFORE the quarantine merge for the single-writer
    * reason: the resolved-side semi-join reads the quarantine table, and
    * materializing first means the merge never scans the table it is
    * mid-swap on. Both merges shuffle only on the bucket key and touch
    * only affected bucket dirs, and the resolved-side quarantine read is
    * bucket-PRUNED to the ok keys' own buckets ([[graft.merge.MergeTable
    * .readBuckets]], bucketing validated against the table's `_meta`) —
    * per-batch cost is O(delta + touched buckets),
    * never O(table), on the write AND read side. The main-table merge
    * and the quarantine chain run CONCURRENTLY per batch (r18): they
    * write disjoint tables and both read only the immutable norm stage,
    * so the batch's wall floor is max(main merge, quarantine chain)
    * instead of their sum — crash-interleaving analysis at the fork
    * point in the body. Both staging dirs are
    * batch-scoped and removed on completion, so a long-running drain
    * leaves no per-batch debris (a replayed batch rewrites them with
    * mode overwrite before any read, so cleanup is never load-bearing).
    *
    * Key uniqueness: one routed decision per `media_id` per batch. A
    * batch carrying several rows for one key (e.g. a corrupt copy and
    * its repaired re-upload landing in the same micro-batch) is
    * normalized FIRST — error-row-wins, full-row lexicographic
    * tie-break — so a key goes to exactly one side, never "upsert main
    * AND quarantine". Error-wins is the conservative direction: a key
    * only ever LEAVES quarantine via a clean decode in a LATER batch,
    * not via a clean sibling that raced its own corruption.
    *
    * `seq` is the caller's monotone batch stamp (micro-batch id, cycle
    * number) recorded on quarantine rows as `routed_seq`; replays of a
    * batch reuse its id, so the stamp is replay-stable. It is what
    * [[quarantineRetire]]'s age horizon prunes on.
    */
  /** The route's key-normalization aggregate, factored out so the plan
    * gate covers the PRODUCTION expression (PlanShapeSpec pins: one
    * exchange hash-partitioned on media_id, a partial max_by BELOW it —
    * map-side combine — no Expand, no Window, no ObjectHashAggregate).
    * Semantics: one surviving row per media_id — error-row-wins, then
    * the full row lexicographically, so the winner never depends on
    * partition layout (spec-pinned determinism). Public only as a plan
    * builder (PLANS.md generation runs outside the package); the route
    * is the production entry point.
    */
  def normalizedDecisions(decoded: DataFrame): DataFrame = {
    val rowCols = decoded.columns.map(col)
    decoded.groupBy(col("media_id"))
      .agg(max_by(struct(rowCols: _*),
        struct(col("error").isNotNull.as("err_wins"),
          struct(rowCols: _*).as("row"))).as("r"))
      .select(col("r.*"))
  }

  def quarantineRoute(decoded: DataFrame, mainTable: String,
      quarTable: String, nBuckets: Int, scratch: String,
      seq: Long = 0L,
      // crash-drill seam (specs only): called with "main_merge" /
      // "quar_chain" at the START of each overlapped chain, in that
      // chain's thread. A spec throws from it to plant a crash with a
      // chosen interleaving (e.g. quarantine committed, main not) —
      // unreachable any other way now that the chains run concurrently.
      crashSeam: String => Unit = _ => ()): Unit = {
    val spark = decoded.sparkSession
    def exists(path: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    // An empty delta must never CREATE a table (a zero-bucket layout is
    // unreadable — no schema to infer), and an empty parquet stage has
    // zero part files, so the re-read needs the explicit schema. Both
    // cases are real at production rates: a clean batch (no errors, no
    // repairs due) routes an empty quarantine delta; an all-corrupt
    // batch routes an empty main delta. Merging an empty delta into an
    // EXISTING table is a cheap no-op (its distinct-bucket set is
    // empty), so the guard is only on creation.
    // returns the delta's affected buckets (empty when the merge was
    // skipped for a vacuous delta) — the main-table merge's set doubles
    // as the resolved-side read pruning below, saving a per-batch
    // distinct-buckets job
    // `buckets` is the delta's observed bucket set (collected for free
    // on a staging write below via MergeTable.bucketColumn — the table's
    // own hash, not a reimplementation): the merge skips its own
    // distinct-buckets job, the empty-delta check costs no job at all
    // (empty bucket set ⇔ empty delta — the bucket column is never
    // null), and the creation guard still holds: an empty delta never
    // creates a table.
    def mergeUnlessVacuous(delta: DataFrame, table: String,
        buckets: Seq[Int]): Seq[Int] =
      if (exists(table) || buckets.nonEmpty)
        graft.merge.MergeTable.merge(delta, table,
          keys = Seq("media_id"), nBuckets = nBuckets, _ => (),
          knownAffected = Some(buckets))
      else Nil
    val bucketCol =
      graft.merge.MergeTable.bucketColumn(Seq("media_id"), nBuckets)
    // When the observed stage executes ZERO tasks (a degenerate empty
    // batch: AQE's empty-relation propagation can replace the whole
    // staged write's input), the CollectMetrics accumulator never
    // updates and the observation completes with an EMPTY row — the key
    // is absent entirely. Fall back to the explicit bounded aggregate
    // over the STAGED parquet (zero part files → empty frame → empty
    // set); it runs only in that degenerate case, so the hot path stays
    // at zero extra jobs while an empty replayed batch can never wedge
    // the drain on a missing metric.
    def observedBuckets(obs: org.apache.spark.sql.Observation,
        name: String, fallback: => DataFrame): Seq[Int] =
      obs.get.get(name) match {
        case Some(s) =>
          s.asInstanceOf[scala.collection.Seq[Int]].toSeq.sorted
        case None => fallback.select(bucketCol.as("__b")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
      }
    // one routed decision per key: error-row-wins, then the full row
    // lexicographically — a grouping aggregate with a MAP-SIDE PARTIAL,
    // not a window, so normalization costs one O(batch) shuffle of
    // combined partials. Physically it plans as SortAggregate (r16
    // correction — not HashAggregate as previously claimed): max_by
    // carries the candidate row in its buffer, and a variable-length
    // buffer is not UnsafeRow-mutable, so hash aggregation is
    // UNATTAINABLE for winner-selection over a wide row in vanilla
    // Spark (ObjectHashAggregate would need a TypedImperative agg and
    // sort-falls-back past 128 in-memory groups anyway — memory lesson
    // from the q32 Expand incident). The per-partition sorts are the
    // accepted cost; the plan shape that matters — ONE exchange,
    // partial_max_by below it, no Expand, no Window — is gated in
    // PlanShapeSpec. Staged to parquet so the shuffle executes ONCE: the normalized
    // frame feeds three separate plans below (main merge, quarantine
    // delta, bucket pruning), each of which would otherwise re-run the
    // aggregate over the whole batch. Explicit schema on the re-read —
    // an empty batch stages zero part files.
    val norm0 = normalizedDecisions(decoded)
    // the ok side's bucket set rides the normalization write as an
    // observed aggregate — zero extra jobs (collect_set skips the nulls
    // the `when` leaves on error rows). Only the OK set is needed: the
    // quarantine merge's buckets come from the qdelta stage's own
    // q_buckets observation below, which also covers resolved rows
    // (an err-side set here would be a strict subset and go unread).
    val normObs = org.apache.spark.sql.Observation()
    Obs.scope("norm_stage") {
      norm0.observe(normObs,
          collect_set(when(col("error").isNull, bucketCol)).as("ok_buckets"))
        .write.mode("overwrite").parquet(scratch + "__norm")
    }
    val one = spark.read.schema(norm0.schema).parquet(scratch + "__norm")
    val ok = one.filter(col("error").isNull)
    // the ok side's bucket set, observed for free on the norm stage —
    // computed ONCE here because both overlapped chains below need it:
    // the main merge's knownAffected AND the resolved-side read pruning
    val okObserved = observedBuckets(normObs, "ok_buckets", ok)
    val quarExists = exists(quarTable)
    // The main-table merge and the quarantine chain OVERLAP from here
    // (r17 BUILD_NOTES addendum #7, shipped r18): they write DISJOINT
    // tables (main vs quarantine, each with its own
    // `__staging` dir), both read only the immutable `scratch__norm`
    // stage, and the quarantine chain's only former dependency on the
    // main merge — the resolved-side bucket pruning — uses the
    // norm-stage's OBSERVED ok-bucket set, which equals the merge's
    // affected set by construction (knownAffected is returned verbatim;
    // a skipped merge ⇔ an empty ok delta ⇔ an empty observed set).
    // Crash interleavings stay replay-idempotent in BOTH new orders:
    //  - quar committed / main not: the replayed resolved-side semi-join
    //    finds the key already 'resolved' (filter keeps only
    //    'quarantined'), emits nothing new; the main merge replays
    //    delta-wins to the same state.
    //  - main committed / quar not: ok ∩ newQuar = ∅ by error-wins
    //    normalization, so the replayed quarantine delta is the same
    //    frame.
    // The drain floor was two SEQUENTIAL staged rewrites (~0.5-0.8 s
    // main + ~1.0-1.5 s quarantine chain at sf0.1); overlapping them
    // hides the shorter under the longer.
    val mainChain: () => Unit = () => {
      crashSeam("main_merge")
      Obs.scope("main_merge") {
        mergeUnlessVacuous(ok.drop("error"), mainTable, okObserved)
      }
    }
    val quarChain: () => Unit = () => {
      crashSeam("quar_chain")
      val newQuar = one.filter(col("error").isNotNull)
        .select(col("media_id"), col("media_type"), col("error"))
        .withColumn("status", lit("quarantined"))
      // resolved side reads ONLY the quarantine buckets the batch's ok
      // keys hash to — a key can only match inside its own bucket (both
      // tables share the media_id/nBuckets bucketing), so the pruned read
      // sees every possible resolution while per-batch read cost stays
      // O(touched buckets) even when the quarantine table is data-scale.
      // The bucket set rode the norm-stage write as an observation — no
      // extra job — and the read happens BEFORE this chain's own merge
      // touches the table (single-writer discipline, unchanged by the
      // overlap: the MAIN merge never reads or writes the quarantine
      // table).
      val okBuckets = if (quarExists) okObserved.toSet else Set.empty[Int]
      val resolved =
        if (!quarExists || okBuckets.isEmpty)
          newQuar.limit(0) // nothing to resolve
        else ok.join(
          graft.merge.MergeTable.readBuckets(spark, quarTable, okBuckets,
              keys = Seq("media_id"), nBuckets = nBuckets)
            .filter(col("status") === lit("quarantined")).select("media_id"),
          Seq("media_id"), "left_semi")
          .select(col("media_id"), col("media_type"))
          .withColumn("error", lit(null).cast("string"))
          .withColumn("status", lit("resolved"))
      val qdelta = newQuar.unionByName(resolved)
        .withColumn("routed_seq", lit(seq))
      val qObs = org.apache.spark.sql.Observation()
      Obs.scope("qdelta_stage") {
        qdelta.observe(qObs, collect_set(bucketCol).as("q_buckets"))
          .write.mode("overwrite").parquet(scratch)
      }
      Obs.scope("quar_merge") {
        mergeUnlessVacuous(
          spark.read.schema(qdelta.schema).parquet(scratch), quarTable,
          observedBuckets(qObs, "q_buckets",
            spark.read.schema(qdelta.schema).parquet(scratch)))
      }
    }
    // Run the shorter main merge on a named thread, the quarantine chain
    // inline, then join BEFORE any cleanup or rethrow — an exception in
    // one chain must never leave the other mid-write while the caller
    // (e.g. a replaying drain) moves on. Spark jobs from both threads
    // share the session safely (per-thread job submission is a supported
    // SparkContext contract). Failures compose: if both chains fail the
    // quarantine chain's error carries the main merge's as suppressed;
    // either failure aborts the batch, and the replay re-runs both
    // chains idempotently (see interleaving note above).
    val mainErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]
    val mainThread = new Thread(
      () => try mainChain() catch { case e: Throwable => mainErr.set(e) },
      "graft-route-main-merge")
    mainThread.start()
    val quarErr =
      try { quarChain(); None }
      catch { case scala.util.control.NonFatal(e) => Some(e) }
    mainThread.join()
    (Option(mainErr.get), quarErr) match {
      case (Some(m), Some(q)) => q.addSuppressed(m); throw q
      case (Some(m), None) => throw m
      case (None, Some(q)) => throw q
      case (None, None) => ()
    }
    // batch-scoped staging dirs: every consumer above has EXECUTED (the
    // merges are eager — collect, staged write, renames), so the dirs
    // are dead weight now; removing them keeps a long-running drain's
    // disk footprint at O(tables), not O(tables + batches-ever-routed)
    Obs.scope("cleanup") {
      Seq(scratch + "__norm", scratch).foreach { s =>
        val sp = new org.apache.hadoop.fs.Path(s)
        sp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(sp, true)
      }
    }
  }

  /** The one quarantine drain, behind `PipelineMain quarantine`, q92 and
    * q93: a checkpointed AvailableNow drain of the blob
    * parquet dir `src`, one file per micro-batch, each batch's lazy
    * decode plan ([[decodeMetaTotal]]) going straight into
    * [[quarantineRoute]], whose normalization stage is its one
    * materialization. Blobs are read with the [[MediaRow]] schema (the
    * file source makes every field nullable either way), so no schema is
    * inferred. `afterBatch(id)` runs after batch `id`'s route and before
    * its checkpoint commit — the restart drills' crash seam. The caller
    * owns the conf scope.
    */
  def quarantineDrain(spark: SparkSession, src: String, mainT: String,
      quarT: String, nBuckets: Int, checkpoint: String, scratch: String,
      afterBatch: Long => Unit = _ => ()): Unit = {
    val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    spark.readStream.schema(enc.schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        quarantineRoute(decodeMetaTotal(batch.as(enc)).toDF(), mainT, quarT,
          nBuckets, scratch, seq = id)
        afterBatch(id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }

  /** Retention for the quarantine table: retire `resolved` tombstones
    * whose `routed_seq` is older than `retireBefore`, so table size
    * tracks ACTIVE corruption plus a bounded resolution-history horizon
    * instead of growing monotonically with every repair ever made
    * (round-14 verdict, What's-wrong #2). `quarantined` rows are never
    * touched regardless of age — an unrepaired blob stays visible until
    * repaired.
    *
    * Safety with replays: [[quarantineRoute]] only emits a `resolved`
    * row for a key it currently sees as `quarantined`; after retirement
    * the key is absent, so a replayed repair batch resolves nothing and
    * the retired state is stable. Choose the horizon ≥ the streaming
    * checkpoint's replay window (one micro-batch) — any horizon ≥ 1
    * batch satisfies that.
    *
    * Cost: the find phase (one bounded aggregate locating affected
    * buckets) reads every live quarantine bucket once — `routed_seq`
    * and `status` are stat-friendly columns, so parquet row-group
    * pushdown skips most data, but it is a table-wide listing, not
    * O(matching buckets); the REWRITE is then a bucket-pruned
    * delete-rewrite with [[graft.merge.MergeTable]]'s swap discipline,
    * O(matching-bucket bytes). The quarantine table itself is
    * active-corruption-sized (that is what this retention maintains),
    * so the find scan is bounded in steady state. An all-retired
    * table is removed entirely and reads as absent (the deferred-creation
    * state the route starts from). Returns rows retired.
    */
  def quarantineRetire(spark: SparkSession, quarTable: String,
      retireBefore: Long): Long =
    graft.merge.MergeTable.deleteWhere(spark, quarTable,
      col("status") === lit("resolved") && col("routed_seq") < lit(retireBefore))

  /** Planted image dimensions for [[documentBlobs]] — derived from the
    * document text so the SQL oracle can predict what a REAL decode of
    * the planted image must return. Kept small (w <= 331, h <= 311) so
    * encoding stays cheap, with a spread crossing 256 so the resize path
    * exercises genuine downscales.
    */
  def plantedWidth(len: Int): Int = 32 + len % 300
  def plantedHeight(len: Int, first: Int): Int = 32 + (len * 31 + first) % 280

  /** Planted audio parameters for [[documentBlobs]] — same oracle-
    * predictability contract as [[plantedWidth]]/[[plantedHeight]]:
    * telephone-to-wideband sample rates, payloads kept to a few hundred
    * PCM frames so encoding stays cheap.
    */
  def plantedRate(len: Int): Int = 8000 + len % 577
  def plantedSamples(len: Int, first: Int): Int = 40 + (len * 31 + first) % 400

  /** Planted video dimensions/frame counts for [[documentBlobs]] — same
    * oracle-predictability contract as the image/audio plants (and the
    * same arithmetic the round-4/5 stub used, so the oracle SQL is
    * unchanged: the values now come out of REAL MP4 boxes).
    */
  def plantedVideoWidth(len: Int): Int = 64 + len % 577
  def plantedVideoHeight(len: Int, first: Int): Int = 64 + (len * 31 + first) % 513
  def plantedVideoFrames(len: Int): Int = len % 24 + 1

  /** The planted-corruption rule of q90–q93: every
    * `media_id % 7 == 0` blob is truncated to its first 5 bytes, too short
    * for any container's header. The oracles state the same rule in SQL
    * (`doc_id % 7 = 0`) as its independent twin. */
  def plantedCorrupt(mediaId: Long): Boolean = mediaId % 7 == 0

  def plantCorruption(blobs: Dataset[MediaRow]): Dataset[MediaRow] =
    blobs.map(r => if (plantedCorrupt(r.media_id))
      r.copy(content = r.content.take(5)) else r)(
      org.apache.spark.sql.Encoders.product[MediaRow])

  /** The generated blob corpus of `dir`'s documents, staged as PARQUET
    * once per documents-fixture content ([[graft.streaming.Stage]]).
    * Disk-backed rather than `persist()`-backed
    * ([[graft.ops.PersistRegistry]]) because the corpus is INPUT data,
    * not an intermediate: a production pipeline reads media blobs from a
    * table, and a memory-cache entry both competes with genuine
    * intermediates for executor memory and is re-paid (full codec ENCODE
    * of every blob) whenever the cache churns. Every read is a plain
    * columnar scan of the stage.
    */
  def documentBlobs(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    val path = graft.streaming.Stage(spark, s"$dir/documents.parquet", "blobs") {
      out => generateBlobs(spark, dir).write.parquet(out)
    }
    // read straight off the columnar copy: for wide binary rows a
    // compressed parquet scan beats a MEMORY_AND_DISK row cache (the
    // cache pays per-row deserialization + GC of multi-KB byte arrays;
    // measured slower than the scan at sf0.1), so no persist layer here
    spark.read.parquet(path).as[MediaRow]
  }

  /** Media-corpus fixture over the documents table. Image rows carry a
    * REAL encoded PNG/JPEG (dimensions planted from the text via
    * [[plantedWidth]]/[[plantedHeight]], format by text-length parity, a
    * per-doc pixel pattern); audio rows carry a REAL PCM WAV (rate and
    * frame count planted via [[plantedRate]]/[[plantedSamples]]); video
    * rows carry a REAL MP4 container (dimensions and frame count planted
    * via the `plantedVideo*` functions into genuine tkhd/stsz boxes).
    * Generation is distributed (mapPartitions) and deterministic, so the
    * oracle can state the expected decode output without ever decoding.
    */
  private def generateBlobs(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      // image encoding is CPU-bound and the documents table is a small
      // parquet file (few input splits) — spread generation across every
      // core before the heavy map; the shuffle moves only (id, text)
      .repartition(spark.sparkContext.defaultParallelism)
      .as[(Long, String)]
      .mapPartitions { it =>
        val types = Array("image", "audio", "video")
        it.map { case (id, text) =>
          val mt = types((id % 3).toInt)
          val len = text.length
          val first = if (text.nonEmpty) text.charAt(0).toInt else 0
          val content = mt match {
            case "image" =>
              val fmt = if (len % 2 == 0) "png" else "jpeg"
              ImageCodec.encode(plantedWidth(len), plantedHeight(len, first), id, fmt)
            case "audio" =>
              AudioCodec.encode(plantedSamples(len, first), plantedRate(len), id)
            case _ =>
              VideoCodec.encode(plantedVideoWidth(len),
                plantedVideoHeight(len, first), plantedVideoFrames(len), id)
          }
          MediaRow(id, mt, content)
        }
      }
  }
}
