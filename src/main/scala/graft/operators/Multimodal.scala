package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.awt.image.BufferedImage
import javax.imageio.ImageIO
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media carried as opaque `binary` columns
  * with typed metadata alongside. Image decode is REAL (pure-JDK
  * `javax.imageio` — PNG/JPEG/BMP/GIF readers ship with every JDK):
  * `decodeBatch` parses payload bytes into pixel rasters with per-row
  * failure isolation. `extractMeta` parses REAL container headers (PNG
  * IHDR dimensions, WAV fmt/data chunks) as pure codegen'd Column
  * expressions over the leading payload bytes — no decode, no UDF —
  * with nulls for unknown containers.
  */
object Multimodal {

  // all image payloads here are in-memory byte arrays: ImageIO's default
  // FILE-backed stream cache creates and deletes a temp file per decode
  // (measured 2.8x per-call read cost on this box, pure waste for
  // ByteArrayInputStream sources). JVM-global, runs once per executor
  // when the first closure touches this object.
  ImageIO.setUseCache(false)

  /** Real container-header metadata, parsed declaratively: pure Column
    * expressions (substring/hex/conv — whole-stage codegen'd, no UDF)
    * read the actual header bytes of the payload.
    *
    *  - PNG: signature + IHDR chunk at its mandatory fixed offset;
    *    width/height are the IHDR big-endian u32s (bytes 17-24).
    *  - WAV: RIFF/WAVE magic + canonical "fmt " chunk; channels,
    *    sample rate, and block align are little-endian fields of the
    *    fmt chunk, `n_frames` = data-chunk size / block align when the
    *    data chunk sits at the canonical offset (the layout every
    *    fixed-header writer, incl. `javax.sound`, emits). Non-canonical
    *    chunk orders (LIST/fact chunks first) fall back to null frames
    *    rather than guessing.
    *  - MP4 (ISO BMFF): leading `ftyp` box identifies the container;
    *    `timescale`/`duration_ts` are the big-endian mvhd fields when
    *    the file has the canonical leading layout (`moov` directly
    *    after `ftyp`, version-0 `mvhd` as its first child — the shape
    *    faststart muxers emit). The mvhd offset is DYNAMIC (ftyp box
    *    size is read from the payload), still a pure Column expr.
    *    Non-canonical layouts (moov at EOF) identify as "mp4" with
    *    null fields rather than guessing.
    *  - Anything else: metadata columns null — the declarative analog
    *    of decodeBatch's bad-payload row drop; count unknowns with
    *    `container IS NULL`.
    *
    * Scale: a narrow per-row projection over the leading payload bytes;
    * with parquet this reads only the scanned binary column, no
    * shuffle, no full-payload decode.
    */
  def extractMeta(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val bin = col(binCol)
    // big-endian u32 at 1-based byte offset (hex() emits uppercase)
    def beU32(off: Int) = conv(hex(substring(bin, off, 4)), 16, 10).cast("long")
    // as beU32, at a data-dependent 1-based offset
    def beU32At(off: Column) = conv(hex(bin.substr(off, lit(4))), 16, 10).cast("long")
    // little-endian uint at 1-based byte offset: per-byte hex, reversed
    def leU(off: Int, len: Int) =
      conv(concat((off + len - 1 to off by -1).map(i => hex(substring(bin, i, 1))): _*), 16, 10)
        .cast("long")
    val isPng = hex(substring(bin, 1, 8)) === "89504E470D0A1A0A" &&
      hex(substring(bin, 13, 4)) === "49484452" // "IHDR" where the spec pins it
    val isWav = hex(substring(bin, 1, 4)) === "52494646" && // "RIFF"
      hex(substring(bin, 9, 8)) === "57415645666D7420" // "WAVEfmt "
    val wavCanonicalData = hex(substring(bin, 37, 4)) === "64617461" // "data"
    val blockAlign = leU(33, 2)
    val isMp4 = hex(substring(bin, 5, 4)) === "66747970" // "ftyp"
    // canonical ISO BMFF leading layout: the moov box directly follows
    // ftyp (box size = bytes 1-4) and opens with a version-0 mvhd
    val moov = beU32(1) // 0-based offset of the box after ftyp
    val mp4Canonical = isMp4 && moov.between(16L, 1L << 20) &&
      hex(bin.substr(moov + 5, lit(4))) === "6D6F6F76" && // "moov"
      hex(bin.substr(moov + 13, lit(4))) === "6D766864" && // "mvhd" first child
      hex(bin.substr(moov + 17, lit(1))) === "00" // mvhd version 0
    df.withColumn("n_bytes", length(bin))
      .withColumn("container",
        when(isPng, lit("png")).when(isWav, lit("wav")).when(isMp4, lit("mp4"))
          .otherwise(lit(null).cast("string")))
      .withColumn("width", when(isPng, beU32(17)))
      .withColumn("height", when(isPng, beU32(21)))
      .withColumn("channels", when(isWav, leU(23, 2)))
      .withColumn("sample_rate", when(isWav, leU(25, 4)))
      .withColumn("n_frames",
        when(isPng, lit(1L))
          .when(isWav && wavCanonicalData && blockAlign > 0,
            floor(leU(41, 4) / blockAlign).cast("long")))
      // raw mvhd integers, no unit conversion — exact by construction
      // (duration_ms would force a division; callers can divide)
      .withColumn("timescale", when(mp4Canonical, beU32At(moov + 29)))
      .withColumn("duration_ts", when(mp4Canonical, beU32At(moov + 33)))
  }

  /** Modality-aware sequence packing (M11): assign interleaved
    * text/image/audio/video items to fixed token-budget context bins —
    * the multimodal extension of the text-only c3 packer
    * ([[Sampling.packSequences]]), which is how a vision-language
    * training pipeline actually fills its context windows.
    *
    * Each item's token COST comes from its modality, and for media the
    * inputs come from [[extractMeta]]'s REAL header parse of the payload
    * bytes (not from trusted upstream metadata — corrupt or mislabeled
    * media would silently mis-budget a context window otherwise):
    *
    *  - image: ceil(w/4)·ceil(h/4) patch grid + 16 special tokens (the
    *    ViT patch-embedding budget shape);
    *  - audio: ceil(samples/8) codec frames;
    *  - video: ceil(seconds)·64 — per-sampled-second patch budget from
    *    the container's mvhd duration/timescale;
    *  - text (container null): whitespace token count.
    *
    * Packing then follows the c3 streaming rule unchanged: md5-ticket
    * shard, per-shard id-order cumsum, bin = floor(start_offset/budget)
    * — deterministic, one bounded window per shard, no global sort. An
    * item whose cost exceeds the budget straddles bins by design (the
    * trainer truncates or rolls; ASSIGNMENT stays reproducible).
    */
  def packMultimodal(
      df: DataFrame,
      idCol: String,
      textCol: String,
      binCol: String,
      budgetTokens: Long,
      shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val meta = extractMeta(df, binCol)
    // integer ceil-divisions ((x + d - 1) div d): exact in both engines,
    // no double rounding anywhere (the j3/t19 lesson)
    val cost = when(col("container") === "png",
        expr("((width + 3) div 4) * ((height + 3) div 4) + 16"))
      .when(col("container") === "wav", expr("(n_frames + 7) div 8"))
      .when(col("container") === "mp4",
        expr("((duration_ts + timescale - 1) div timescale) * 64"))
      .otherwise(TextAnalysis.tokenCount(col(textCol)).cast("long"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
    meta.select(
      col(idCol).as("doc_id"),
      coalesce(col("container"), lit("text")).as("modality"),
      cost.cast("long").as("tokens"),
      pmod(conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long"),
        lit(shards.toLong)).as("shard"))
      .withColumn("cum", sum(col("tokens")).over(w))
      .withColumn("bin", floor((col("cum") - col("tokens")) / budgetTokens))
      .select(col("doc_id"), col("modality"), col("tokens"), col("shard"), col("bin"))
  }

  /** Frame sampling: one output row per sampled frame index — the
    * explode-shaped plumbing a video pipeline needs (decode would happen
    * per emitted row in the same narrow stage).
    */
  def sampleFrames(df: DataFrame, everyNth: Int = 4): DataFrame =
    df.withColumn("frame_idx",
        explode(sequence(lit(0), greatest(col("n_frames") - 1, lit(0)), lit(everyNth))))

  case class DecodedImage(doc_id: Long, width: Int, height: Int,
                          channels: Int, px_sum: Long, px_max: Int)

  /** Deterministic synthetic PNG: a small RGB raster whose every sample
    * is a closed-form function of (id, x, y, channel), encoded through
    * the real `javax.imageio` PNG writer. Pixel statistics of the
    * decoded image are therefore computable in plain SQL — which is what
    * lets a DuckDB oracle verify that `decodeBatch` truly decodes.
    */
  def synthPng(id: Long): Array[Byte] = {
    val w = 8 + java.lang.Math.floorMod(id, 9L).toInt
    val h = 8 + java.lang.Math.floorMod(id, 7L).toInt
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          raster.setSample(x, y, c,
            java.lang.Math.floorMod(id * 31 + x * 7 + y * 13 + c * 101, 256L).toInt)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Attach a synthetic PNG payload per row (fixture plumbing for the
    * decode path; a real pipeline reads payload bytes from storage).
    */
  def attachSynthPng(df: DataFrame, idCol: String, binCol: String = "payload"): DataFrame = {
    val mk = udf((id: Long) => synthPng(id))
    df.withColumn(binCol, mk(col(idCol).cast("long")))
  }

  /** Batched image decode: one `mapPartitions` invocation per PARTITION
    * (the Scala analog of a pandas-UDF `mapInPandas`), so per-batch
    * setup is amortized. The decode is REAL: `javax.imageio` parses the
    * payload (PNG/JPEG/BMP/GIF — pure JDK, no external codec) and the
    * kernel emits integer pixel statistics over the decoded raster.
    * Per-row failure isolation mirrors `Realigner`: undecodable bytes
    * drop the row and bump the `multimodal.decode.badPayloads`
    * accumulator instead of failing the job — at corpus scale some
    * payloads are always corrupt.
    *
    * `px_sum`/`px_max` aggregate over ALL samples, so they are invariant
    * to the band order the platform decoder picks (BGR vs RGB).
    */
  def decodeBatch(df: DataFrame, idCol: String, binCol: String = "payload"): Dataset[DecodedImage] = {
    val spark = df.sparkSession
    import spark.implicits._
    val badAcc = spark.sparkContext.longAccumulator("multimodal.decode.badPayloads")
    lastBadPayloads = Some(badAcc)
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        // per-partition: ImageIO plugin lookup is amortized by the JDK's
        // static registry; per-row work is pure decode
        batch.flatMap { case (id, bytes) =>
          try {
            val img = if (bytes == null) null else ImageIO.read(new ByteArrayInputStream(bytes))
            if (img == null) { badAcc.add(1); None }
            else {
              val w = img.getWidth
              val h = img.getHeight
              val ch = img.getRaster.getNumBands
              val raster = img.getRaster
              var sum = 0L
              var max = 0
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  var c = 0
                  while (c < ch) {
                    val v = raster.getSample(x, y, c)
                    sum += v
                    if (v > max) max = v
                    c += 1
                  }
                  x += 1
                }
                y += 1
              }
              Some(DecodedImage(id, w, h, ch, sum, max))
            }
          } catch {
            case scala.util.control.NonFatal(_) => badAcc.add(1); None
          }
        }
      }
  }

  case class DecodedAudio(doc_id: Long, n_frames: Long, sample_rate: Long,
                          channels: Long, amp_sum: Long, amp_max: Long)

  /** The JDK's WAVE codec resolved ONCE per JVM through the public
    * `javax.sound.sampled.spi` ServiceLoader, then called directly.
    * `AudioSystem.getAudioInputStream`/`AudioSystem.write` re-run
    * provider discovery under a global lock on EVERY call — measured
    * here at ~126 µs/call single-threaded and, worse, ~1x aggregate
    * speedup across 8 threads (the whole executor serializes on the
    * lock). That lock made the r16 m12 sf100 row 950 s: 5 M tiny WAV
    * round-trips at effectively single-threaded throughput. The
    * resolved provider objects are stateless parse/render code — the
    * direct path is ~8x cheaper per call, scales with cores, and is
    * byte-identical (verified against the AudioSystem path). Falls
    * back to the locked path only if the SPI yields no WAVE provider.
    */
  private lazy val waveReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val probe = {
      val data = new Array[Byte](4)
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, 2L)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .asScala.find { r =>
        try { r.getAudioFileFormat(new ByteArrayInputStream(probe)); true }
        catch { case _: Throwable => false }
      }
  }

  private lazy val waveWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .asScala.find(_.isFileTypeSupported(AudioFileFormat.Type.WAVE))
  }

  /** Lock-free [[AudioSystem.getAudioInputStream]]. */
  private def readWave(in: java.io.InputStream): AudioInputStream =
    waveReader match {
      case Some(r) => r.getAudioInputStream(in)
      case None => AudioSystem.getAudioInputStream(in)
    }

  /** Lock-free `AudioSystem.write(..., WAVE, ...)`. */
  private def writeWave(ais: AudioInputStream, out: java.io.OutputStream): Unit =
    waveWriter match {
      case Some(w) => w.write(ais, AudioFileFormat.Type.WAVE, out)
      case None => AudioSystem.write(ais, AudioFileFormat.Type.WAVE, out)
    }

  /** Deterministic synthetic WAV: 16-bit signed little-endian mono PCM at
    * 8 kHz whose every sample is a closed-form function of (id, t),
    * container-encoded through the real `javax.sound.sampled` WAVE
    * writer — the audio twin of [[synthPng]].
    */
  def synthWav(id: Long): Array[Byte] = {
    val n = 64 + java.lang.Math.floorMod(id, 33L).toInt
    val data = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = (java.lang.Math.floorMod(id * 31 + t * 7, 65536L) - 32768L).toInt
      data(2 * t) = (s & 0xff).toByte
      data(2 * t + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    writeWave(ais, bos)
    bos.toByteArray
  }

  /** Attach a synthetic WAV payload per row (fixture plumbing, as
    * [[attachSynthPng]]).
    */
  def attachSynthWav(df: DataFrame, idCol: String, binCol: String = "payload"): DataFrame = {
    val mk = udf((id: Long) => synthWav(id))
    df.withColumn(binCol, mk(col(idCol).cast("long")))
  }

  /** Deterministic minimal MP4 (ISO BMFF): an `ftyp` box, then a `moov`
    * whose first child is a version-0 `mvhd` (the canonical leading
    * layout faststart muxers emit — what [[extractMeta]]'s
    * dynamic-offset parse reads), then a single-track sample table
    * (`trak`→`mdia`→`minf`→`stbl` with `stsz` per-frame sizes and a
    * one-chunk `stco`), then the `mdat` holding the frame bytes the
    * table points at. Timescale is the spec-recommended 600; duration,
    * frame count (3 + id%5), frame sizes (16 + (7id+3i)%17), and frame
    * bytes ('a' + (31id+7i+p)%26, ASCII so SQL can rebuild them) are
    * all closed-form in `id` — which is what lets a DuckDB oracle carry
    * TRUTH offsets for the stco/stsz parse ([[mp4FrameTable]]).
    */
  def synthMp4(id: Long): Array[Byte] = {
    val duration = 600 + java.lang.Math.floorMod(id, 2401L).toInt // 1..5s @600
    val n = 3 + java.lang.Math.floorMod(id, 5L).toInt
    val sizes = (0 until n).map(i => 16 + java.lang.Math.floorMod(id * 7 + i * 3, 17L).toInt)
    val stszSize = 20 + 4 * n
    val stblSize = 8 + stszSize + 20 // + stco (8 hdr + ver/flags + count + 1 offset)
    val trakSize = 8 + 8 + 8 + stblSize // trak > mdia > minf > stbl
    val moovSize = 8 + 108 + trakSize
    val chunkOff = 16 + moovSize + 8 // frame 0: right after the mdat header
    val buf = java.nio.ByteBuffer.allocate(chunkOff + sizes.sum) // big-endian
    def tag(s: String) = buf.put(s.getBytes("US-ASCII"))
    buf.putInt(16); tag("ftyp"); tag("isom"); buf.putInt(0)
    buf.putInt(moovSize); tag("moov")
    buf.putInt(108); tag("mvhd")
    buf.putInt(0)               // version 0 + flags
    buf.putInt(0).putInt(0)     // creation/modification time
    buf.putInt(600)             // timescale
    buf.putInt(duration)        // duration (timescale units)
    buf.putInt(0x00010000)      // rate 1.0
    buf.putShort(0x0100.toShort) // volume 1.0
    buf.putShort(0)             // reserved
    buf.putInt(0).putInt(0)     // reserved
    buf.putInt(0x00010000).putInt(0).putInt(0) // unity matrix
    buf.putInt(0).putInt(0x00010000).putInt(0)
    buf.putInt(0).putInt(0).putInt(0x40000000)
    (0 until 6).foreach(_ => buf.putInt(0)) // pre_defined
    buf.putInt(2)               // next_track_id
    buf.putInt(trakSize); tag("trak")
    buf.putInt(trakSize - 8); tag("mdia")
    buf.putInt(trakSize - 16); tag("minf")
    buf.putInt(stblSize); tag("stbl")
    buf.putInt(stszSize); tag("stsz")
    buf.putInt(0)               // version + flags
    buf.putInt(0)               // sample_size 0 => per-sample entries
    buf.putInt(n)               // sample_count
    sizes.foreach(buf.putInt)
    buf.putInt(20); tag("stco")
    buf.putInt(0)               // version + flags
    buf.putInt(1)               // entry_count (single chunk)
    buf.putInt(chunkOff)
    buf.putInt(8 + sizes.sum); tag("mdat")
    for (i <- 0 until n; p <- 0 until sizes(i))
      buf.put((97 + java.lang.Math.floorMod(id * 31 + i * 7 + p, 26L)).toByte)
    buf.array()
  }

  /** Real video frame table: one row per frame, with `frame_off`/
    * `frame_size` read from the container's OWN sample table (`stsz`
    * sizes, `stco` chunk base — the dynamic-offset walk [[extractMeta]]
    * does for mvhd, continued through trak→mdia→minf→stbl), and
    * `frame_fp` = md5 of the actual payload bytes those offsets point
    * at. Every box offset is computed from sizes read out of the
    * payload and every tag on the chain is verified; non-canonical
    * layouts (or non-MP4 payloads) produce no rows rather than guessed
    * ones. Pure Column expressions end to end — a narrow, codegen'd
    * projection + explode, no UDF, no shuffle; at corpus scale this is
    * one pass over the binary column with candidate frame slices read
    * straight from the row's bytes.
    */
  def mp4FrameTable(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "payload", keepPayload: Boolean = false): DataFrame = {
    val bin = col(binCol)
    // Offsets are chained u32s read from the payload, so an arbitrary
    // (non-MP4 or corrupt) payload can yield offsets past Int range.
    // The tag guards below make such rows fail `canonical`, but Catalyst
    // CSE hoists the substr calls out of the &&-short-circuit, so every
    // payload-derived offset is clamped before the (ANSI) int cast: a
    // clamped probe reads past the payload end, returns empty, and the
    // tag check fails — no overflow, no guessed parse.
    def safe(off: Column) = least(off, lit(1L << 30)).cast("int")
    def beU32At(off0: Column) = // big-endian u32 at a 0-based byte offset
      conv(hex(bin.substr(safe(off0 + 1), lit(4))), 16, 10).cast("long")
    def tagAt(off0: Column) = hex(bin.substr(safe(off0 + 5), lit(4)))
    val moov0 = beU32At(lit(0)) // ftyp size = moov's 0-based offset
    val mvhd0 = moov0 + 8
    val trak0 = mvhd0 + beU32At(mvhd0)
    val mdia0 = trak0 + 8
    val minf0 = mdia0 + 8
    val stbl0 = minf0 + 8
    val stsz0 = stbl0 + 8
    val stco0 = stsz0 + beU32At(stsz0)
    val canonical =
      length(bin) >= 16 && tagAt(lit(0)) === "66747970" && // "ftyp"
      moov0.between(16L, 1L << 20) &&
      tagAt(moov0) === "6D6F6F76" && // "moov"
      tagAt(mvhd0) === "6D766864" && // "mvhd"
      tagAt(trak0) === "7472616B" && // "trak"
      tagAt(mdia0) === "6D646961" && // "mdia"
      tagAt(minf0) === "6D696E66" && // "minf"
      tagAt(stbl0) === "7374626C" && // "stbl"
      tagAt(stsz0) === "7374737A" && // "stsz"
      beU32At(stsz0 + 12) === 0L && // per-sample sizes, not uniform
      tagAt(stco0) === "7374636F" && // "stco"
      beU32At(stco0 + 12) === 1L // single-chunk layout
    df.where(canonical)
      .withColumn("__n", beU32At(stsz0 + 16))
      .withColumn("__sizes", transform(
        sequence(lit(0L), col("__n") - 1L),
        i => beU32At(stsz0 + 20 + i * 4)))
      .withColumn("__chunk0", beU32At(stco0 + 16))
      .withColumn("frame_idx", explode(sequence(lit(0L), col("__n") - 1L)))
      .withColumn("frame_size", element_at(col("__sizes"), (col("frame_idx") + 1).cast("int")))
      .withColumn("frame_off", col("__chunk0") +
        aggregate(slice(col("__sizes"), lit(1), col("frame_idx").cast("int")),
          lit(0L), (acc, x) => acc + x))
      .withColumn("frame_fp", md5(bin.substr(safe(col("frame_off") + 1),
        safe(col("frame_size")))))
      .select(col(idCol) +: col("frame_idx") +: col("frame_off") +:
        col("frame_size") +: col("frame_fp") +:
        (if (keepPayload) Seq(bin) else Nil): _*)
  }

  /** Video scene segmentation (the shot-boundary primitive): frames
    * come from the container's OWN sample table ([[mp4FrameTable]]'s
    * stsz/stco walk), per-frame brightness is the sum of the frame's
    * payload bytes read via one hex pass (generic over any byte
    * content — no decoder assumption), and a scene cut falls between
    * consecutive frames whose MEAN byte levels differ by more than
    * `thrNum/thrDen`. The comparison is cross-multiplied into exact
    * long arithmetic — den·|I_i·s_{i−1} − I_{i−1}·s_i| > num·s_i·s_{i−1}
    * — so no division touches the flag. Segments are the runs between
    * cuts (running cut count as the segment id).
    *
    * Scale shape: one codegen'd projection per frame row (the hex walk
    * is O(frame bytes), the same pass [[mp4FrameTable]]'s frame_fp
    * already makes), then a lag + running-sum window per document over
    * its ≤n frames. No shuffle beyond the per-document window.
    */
  /** Narrow per-frame ANALYSIS table shared by the m-family: the
    * stsz/stco walk ([[mp4FrameTable]]) plus the per-frame byte-sum
    * intensity, payload dropped — one pass produces everything the
    * frame consumers (m7's fingerprint dump, m13's scene cuts) read,
    * so the walk is computed once, not once per query. Columns:
    * (idCol, frame_idx, frame_off, frame_size, frame_fp,
    * frame_intensity).
    */
  def frameAnalysisTable(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "payload"): DataFrame = {
    // intensity = Σ unsigned bytes of the frame slice via the native
    // codegen'd ByteSum (bounds-clamped, len <= 0 → 0, so payload-derived
    // offsets degrade to 0 instead of ANSI-cast errors). The original
    // hex-render + conv(substr) HOF fold computed the same sum but
    // interpreted per byte with a string pair allocated per element —
    // at sf1 its GC debris inflated every CPU-bound bench row that ran
    // after the build.
    mp4FrameTable(df, idCol, binCol, keepPayload = true)
      .withColumn("frame_intensity",
        graft.functions.NativeExpressions.byte_sum(
          col(binCol), col("frame_off"), col("frame_size")))
      // narrow the row before any downstream shuffle: the payload has
      // done its work
      .drop(binCol)
  }

  /** Session-memoized [[frameAnalysisTable]]: the first caller per
    * (session, cacheKey) pays the walk and MATERIALIZES the narrow
    * result as a parquet layout under the per-JVM scratch root; every
    * later caller — another query in the same Verify / bench / notebook
    * session — re-reads the persisted layout. A persisted LAYOUT, not a
    * localCheckpoint: checkpoint blocks are storage the harness's
    * per-query RDD cleanup may release (truncating lineage —
    * unrecoverable), while a parquet file is re-readable by any later
    * plan; it is also what a lakehouse would actually do with a derived
    * frame table. The honest-cost convention of
    * BucketedJoin.ensureBucketed: the build belongs to whichever timed
    * row runs first. Key the cache by the INPUT identity (data dir +
    * payload scheme) — two different payload mappings must never share
    * an entry; the root is per-JVM (pid) so concurrent JVMs never race
    * one path.
    */
  def sharedFrameTable(df: DataFrame, cacheKey: String,
      idCol: String = "doc_id", binCol: String = "payload"): DataFrame = {
    val spark = df.sparkSession
    val key = s"${System.identityHashCode(spark)}|$idCol|$binCol|$cacheKey"
    val path = frameTableCache.computeIfAbsent(key, _ => {
      val h = Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(key))
      // generation-suffixed path: a rebuild after clearFrameTableCache
      // must never land on a path the session's FileStatusCache already
      // listed (a same-path rewrite serves stale file names to the next
      // scan — observed as FAILED_READ_FILE.FILE_NOT_EXIST)
      val p = s"$frameTableRoot/$h-g${frameTableGen.incrementAndGet()}"
      frameAnalysisTable(df, idCol, binCol).write.mode("overwrite").parquet(p)
      p
    })
    spark.read.parquet(path)
  }

  /** Per-JVM scratch root for the memoized frame layouts, registered
    * with [[graft.util.ScratchDirs]] so a shutdown hook removes it at
    * JVM exit — a long-lived session or a parade of bench JVMs must not
    * accumulate dead layouts on local disk.
    */
  private lazy val frameTableRoot: String = graft.util.ScratchDirs.register(
    s"/tmp/graft_frames_${ProcessHandle.current().pid()}")

  private val frameTableCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val frameTableGen = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drop all memoized frame tables (spec hygiene) — removes the
    * on-disk layouts too, not just the map entries, so a clear inside a
    * long-lived session releases the disk it orphans.
    */
  def clearFrameTableCache(): Unit = {
    frameTableCache.clear()
    graft.util.ScratchDirs.deleteRecursively(frameTableRoot)
  }

  def videoSceneCuts(df: DataFrame, idCol: String = "doc_id",
      binCol: String = "payload", thrNum: Int = 3, thrDen: Int = 2,
      cacheKey: String = ""): DataFrame = {
    val frames =
      if (cacheKey.isEmpty) frameAnalysisTable(df, idCol, binCol)
      else sharedFrameTable(df, cacheKey, idCol, binCol)
    videoSceneCutsFromFrames(frames, idCol, thrNum, thrDen)
  }

  /** The scene-cut tail over a prebuilt [[frameAnalysisTable]]: lag +
    * running-sum window per document over its ≤n frames — no shuffle
    * beyond the per-document window.
    */
  def videoSceneCutsFromFrames(frames: DataFrame, idCol: String = "doc_id",
      thrNum: Int = 3, thrDen: Int = 2): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val byFrame = W.partitionBy(idCol).orderBy("frame_idx")
    val prevI = lag(col("frame_intensity"), 1).over(byFrame)
    val prevS = lag(col("frame_size"), 1).over(byFrame)
    val cut = when(prevI.isNull, lit(0L)).otherwise(
      when(abs(col("frame_intensity") * prevS - prevI * col("frame_size")) * thrDen >
        lit(thrNum.toLong) * col("frame_size") * prevS, 1L).otherwise(0L))
    frames
      .withColumn("seg_idx",
        sum(cut).over(byFrame.rowsBetween(W.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("seg_idx"))
      .agg(min(col("frame_idx")).as("start_frame"),
        max(col("frame_idx")).as("end_frame"),
        count(lit(1)).as("n_frames"),
        sum(col("frame_size")).as("seg_bytes"))
  }

  /** Real audio decode: `javax.sound.sampled` parses the WAVE container
    * (header, format chunk, PCM payload — pure JDK, no external codec)
    * and the kernel emits integer statistics over the DECODED samples, so
    * a closed-form oracle proves the container round trip is bit-faithful
    * — the audio analog of [[decodeBatch]]. Same narrow mapPartitions
    * stage, same per-row bad-payload isolation. Supports the formats the
    * JDK decodes (WAV/AU/AIFF, PCM); compressed codecs (MP3/FLAC) have no
    * in-JDK decoder and land in the bad-payload counter, not a crash.
    *
    * Sample extraction assumes 16-bit signed PCM (the synthesizable and
    * by far most common archival layout), honoring the container's
    * declared endianness; other bit depths drop to the counter.
    */
  def decodeAudioBatch(df: DataFrame, idCol: String, binCol: String = "payload"): Dataset[DecodedAudio] = {
    val spark = df.sparkSession
    import spark.implicits._
    val badAcc = spark.sparkContext.longAccumulator("multimodal.audio.badPayloads")
    lastBadPayloads = Some(badAcc)
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, bytes) =>
          try {
            if (bytes == null) { badAcc.add(1); None }
            else {
              val ais = readWave(new ByteArrayInputStream(bytes))
              val fmt = ais.getFormat
              if (fmt.getSampleSizeInBits != 16) { badAcc.add(1); None }
              else {
                val pcm = ais.readAllBytes()
                val big = fmt.isBigEndian
                var sum = 0L
                var max = Long.MinValue
                var i = 0
                while (i + 1 < pcm.length) {
                  val lo = pcm(if (big) i + 1 else i) & 0xff
                  val hiB = pcm(if (big) i else i + 1).toInt
                  val v = (hiB << 8) | lo
                  sum += v
                  if (v > max) max = v
                  i += 2
                }
                if (pcm.length < 2) max = 0L // zero-frame payload: (0, 0), not MinValue
                Some(DecodedAudio(id, pcm.length / (2L * fmt.getChannels),
                  fmt.getSampleRate.toLong, fmt.getChannels.toLong, sum, max))
              }
            }
          } catch {
            case scala.util.control.NonFatal(_) => badAcc.add(1); None
          }
        }
      }
  }

  case class ImageHash(doc_id: Long, dhash_hi: Long, dhash_lo: Long)

  /** Perceptual difference-hash (dHash) over the DECODED raster — the
    * standard image near-dup fingerprint: sample the grayscale image on a
    * 9x8 nearest-neighbor grid and set bit (j*8+i) iff the sample right
    * of (i,j) is strictly brighter. Identical images (and crops/re-encodes
    * that preserve the luminance gradient structure) collide, which is
    * what makes group-by-dhash a dedup key.
    *
    * Integer math end to end so an engine-exact oracle can recompute it:
    * grayscale = (sum of bands) / numBands in integer division (band-order
    * invariant), grid sample (i,j) -> pixel (i*w/9, j*h/8) in integer
    * division. The 64 bits are emitted as two non-negative 32-bit halves
    * (`dhash_hi` = rows 4..7, `dhash_lo` = rows 0..3) so SQL engines
    * never face BIGINT sign/overflow at bit 63.
    *
    * Scale: same narrow mapPartitions stage as [[decodeBatch]] — decode
    * and hash in one pass, no shuffle; grouping on the hash downstream is
    * one exchange on an 8-byte composite key. Per-row failure isolation
    * as decodeBatch (bad payload -> dropped row + accumulator).
    */
  def dHashBatch(df: DataFrame, idCol: String, binCol: String = "payload"): Dataset[ImageHash] = {
    val spark = df.sparkSession
    import spark.implicits._
    val badAcc = spark.sparkContext.longAccumulator("multimodal.dhash.badPayloads")
    lastBadPayloads = Some(badAcc)
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, bytes) =>
          try {
            val img = if (bytes == null) null else ImageIO.read(new ByteArrayInputStream(bytes))
            if (img == null) { badAcc.add(1); None }
            else {
              val raster = img.getRaster
              val w = img.getWidth
              val h = img.getHeight
              val nb = raster.getNumBands
              // grayscale on the 9x8 sample grid only — no full-image pass
              val gray = Array.ofDim[Int](8, 9)
              var j = 0
              while (j < 8) {
                var i = 0
                while (i < 9) {
                  val x = i * w / 9
                  val y = j * h / 8
                  var s = 0
                  var c = 0
                  while (c < nb) { s += raster.getSample(x, y, c); c += 1 }
                  gray(j)(i) = s / nb
                  i += 1
                }
                j += 1
              }
              var hi = 0L
              var lo = 0L
              j = 0
              while (j < 8) {
                var i = 0
                while (i < 8) {
                  if (gray(j)(i + 1) > gray(j)(i)) {
                    if (j < 4) lo |= 1L << (j * 8 + i)
                    else hi |= 1L << ((j - 4) * 8 + i)
                  }
                  i += 1
                }
                j += 1
              }
              Some(ImageHash(id, hi, lo))
            }
          } catch {
            case scala.util.control.NonFatal(_) => badAcc.add(1); None
          }
        }
      }
  }

  /** Image near-dup pairs within `maxHamming` bits of dHash, LSH-bucketed
    * by 16-bit chunks: a pair within Hamming distance <= 3 of the 64-bit
    * hash must agree on at least one of 4 chunks (pigeonhole), so the
    * candidate step is an equi-join on chunk value — perceptual dedup
    * (LAION-style image corpus cleaning). Input is [[dHashBatch]] output;
    * chunks 0-1 come from `dhash_lo`, 2-3 from `dhash_hi`. Pins the hash
    * table: both join sides read it, and without the barrier the
    * per-image DECODE kernel upstream in the m6 pipeline runs twice. The
    * candidate join and exact verify live in [[HammingNearDup.pairs]].
    *
    * Scale: candidate volume tracks bucket occupancy (true near-dups +
    * 16-bit chunk collisions), never n²; the exact Hamming verify after
    * the pair fold kills chunk-collision false positives.
    */
  def dHashNearDupPairs(hashes0: DataFrame, maxHamming: Int = 3): DataFrame =
    HammingNearDup.pairs(graft.util.Barriers.corpusScale(hashes0),
        DHashWords, DHashChunks, width = 16, maxHamming)
      .withColumn("hamming", col("hamming").cast("long"))

  /** The two 32-bit dHash words and their 4 disjoint 16-bit chunks. */
  private val DHashWords = Seq("dhash_lo", "dhash_hi")
  private val DHashChunks =
    for (w <- 0 to 1; shift <- Seq(0, 16)) yield HammingNearDup.Chunk(w, shift)

  /** Scale path for [[dHashNearDupPairs]] (M8, the e3→e12 pattern on the
    * multimodal surface): collapse exact-duplicate images FIRST — one
    * representative (min doc_id) per distinct 64-bit dHash with a
    * member count — then run the pigeonhole candidate join over DISTINCT
    * hashes only. Output is one row per duplicate relationship, weighted
    * by underlying pair mass:
    *
    *  - `(rep, rep, 0, n·(n−1)/2)` — a collapsed exact-dup cluster;
    *  - `(rep_a, rep_b, h, n_a·n_b)` — a cross-cluster near-dup at
    *    Hamming distance 1..maxHamming between representatives.
    *
    * Why it scales where pairwise doesn't: a corpus with heavy exact
    * duplication (thumbnails, mirrored CDN assets — or this fixture's
    * fixed 97 image identities) makes pairwise output Ω(Σ n_i²) while
    * the collapsed form is O(#distinct + near-dup structure). Candidate
    * volume tracks distinct-hash bucket occupancy, never raw row count.
    * [[HammingNearDup.collapsed]] builds and pins the class table (read
    * by the exact leg and both join sides) and runs the join.
    */
  def dHashNearDupScaled(hashes: DataFrame, maxHamming: Int = 3): DataFrame =
    HammingNearDup.collapsed(hashes, DHashWords, DHashChunks, width = 16, maxHamming)
      .withColumn("hamming", col("hamming").cast("long"))

  case class AudioFp(doc_id: Long, fp: Long, n_windows: Long)

  /** Deterministic WAV fixture for the audio near-dup query (M9): 640
    * 16-bit mono frames whose samples are a closed-form integer mix of
    * the content key (id % 97) and time, plus a variant perturbation
    * (v = (id/97) % 4; v > 0 adds +1000 to the 16 samples of window
    * 10·v). Same content key + variant ⇒ byte-identical audio; same key,
    * different variant ⇒ a fingerprint within a couple of bits. All
    * integer math so the DuckDB oracle rebuilds the decoded samples,
    * energies, and fingerprints exactly.
    */
  def synthWavFp(id: Long): Array[Byte] = {
    val key = java.lang.Math.floorMod(id, 97L)
    val v = java.lang.Math.floorMod(id / 97, 4L).toInt
    val n = 640
    val data = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      var s = (java.lang.Math.floorMod(
        key * 2654435761L + t * 40503L + key * t * 69069L, 60000L) - 30000L).toInt
      if (v > 0 && t / 16 == 10 * v) s += 1000
      data(2 * t) = (s & 0xff).toByte
      data(2 * t + 1) = ((s >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new AudioFormat(8000f, 16, 1, true, false)
    val ais = new AudioInputStream(new ByteArrayInputStream(data), fmt, n.toLong)
    val bos = new ByteArrayOutputStream()
    writeWave(ais, bos)
    bos.toByteArray
  }

  /** Fixture plumbing for M9 (as [[attachSynthWav]]). */
  def attachSynthWavFp(df: DataFrame, idCol: String, binCol: String = "payload"): DataFrame = {
    val mk = udf((id: Long) => synthWavFp(id))
    df.withColumn(binCol, mk(col(idCol).cast("long")))
  }

  /** Acoustic fingerprint over the DECODED waveform — the energy-delta
    * sketch underlying audio near-dup systems (Shazam/chromaprint
    * shape, integer-exact): partition the PCM stream into fixed
    * `window`-sample frames, per-frame energy Σs², and set bit (w−1)
    * iff E_w > E_{w−1}. Re-encodes and global gain shifts that preserve
    * the energy CONTOUR collide; a localized edit flips only the bits
    * whose windows it touches. Same narrow mapPartitions + bad-payload
    * accumulator contract as [[decodeAudioBatch]] — decode and
    * fingerprint in one pass, zero shuffles.
    */
  def audioFingerprint(df: DataFrame, idCol: String,
      binCol: String = "payload", window: Int = 16): Dataset[AudioFp] = {
    val spark = df.sparkSession
    import spark.implicits._
    val badAcc = spark.sparkContext.longAccumulator("multimodal.audiofp.badPayloads")
    lastBadPayloads = Some(badAcc)
    df.select(col(idCol).cast("long"), col(binCol)).as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, bytes) =>
          try {
            if (bytes == null) { badAcc.add(1); None }
            else {
              val ais = readWave(new ByteArrayInputStream(bytes))
              val fmt = ais.getFormat
              if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) {
                badAcc.add(1); None
              } else {
                val pcm = ais.readAllBytes()
                val big = fmt.isBigEndian
                val nW = pcm.length / (2 * window)
                val en = new Array[Long](math.max(nW, 0))
                var t = 0
                while (t < nW * window) {
                  val i = 2 * t
                  val lo = pcm(if (big) i + 1 else i) & 0xff
                  val hiB = pcm(if (big) i else i + 1).toInt
                  val s = ((hiB << 8) | lo).toLong
                  en(t / window) += s * s
                  t += 1
                }
                var fp = 0L
                var w = 1
                while (w < nW) {
                  if (en(w) > en(w - 1)) fp |= 1L << (w - 1)
                  w += 1
                }
                Some(AudioFp(id, fp, nW.toLong))
              }
            }
          } catch {
            case scala.util.control.NonFatal(_) => badAcc.add(1); None
          }
        }
      }
  }

  /** Energy-run audio segmentation — the VAD-shaped primitive (voice /
    * silence split) over the decoded waveform, all-integer: partition
    * the PCM stream into full `window`-sample frames (the trailing
    * partial frame is dropped, as [[audioFingerprint]]), per-frame
    * energy Σs², mark a frame ACTIVE iff its energy exceeds the file
    * mean (E_w · nW > ΣE — exact long arithmetic, no division), and
    * merge consecutive active frames into segments via gaps-and-islands.
    * One narrow mapPartitions decode (zero shuffles to the frame table)
    * then a per-document window over ≤ nW rows; same bad-payload
    * accumulator contract as [[decodeAudioBatch]].
    *
    * Energy fits a long with wide headroom: s² ≤ 2³⁰ and a frame sums
    * `window` of them, so even 2²⁰-sample frames stay under 2⁵⁰.
    */
  def audioSegments(df: DataFrame, idCol: String,
      binCol: String = "payload", window: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val badAcc = spark.sparkContext.longAccumulator("multimodal.audioseg.badPayloads")
    lastBadPayloads = Some(badAcc)
    val frames = df.select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.flatMap { case (id, bytes) =>
          try {
            if (bytes == null) { badAcc.add(1); Iterator.empty }
            else {
              val ais = readWave(new ByteArrayInputStream(bytes))
              val fmt = ais.getFormat
              if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) {
                badAcc.add(1); Iterator.empty
              } else {
                val pcm = ais.readAllBytes()
                val big = fmt.isBigEndian
                val nW = pcm.length / (2 * window)
                val en = new Array[Long](math.max(nW, 0))
                var t = 0
                while (t < nW * window) {
                  val i = 2 * t
                  val lo = pcm(if (big) i + 1 else i) & 0xff
                  val hiB = pcm(if (big) i else i + 1).toInt
                  val s = ((hiB << 8) | lo).toLong
                  en(t / window) += s * s
                  t += 1
                }
                // a doc's whole payload is THIS row, so the per-doc
                // stats (window count, total energy) fall out of the
                // same pass — emitting them per window row makes the
                // above-mean filter a plain pre-shuffle predicate.
                // The r15 flavor computed nw/tot as two unordered
                // windows over the exploded frame table instead, and
                // at sf100 the per-task window sorts spilled the whole
                // table (995 s, the round's most expensive gated row).
                val tot = en.sum
                (0 until nW).iterator.map(w => (id, w.toLong, en(w), nW.toLong, tot))
              }
            }
          } catch {
            case scala.util.control.NonFatal(_) => badAcc.add(1); Iterator.empty
          }
        }
      }.toDF("doc_id", "w", "energy", "nw", "tot")
    val W = org.apache.spark.sql.expressions.Window
    // only above-mean windows survive to the single remaining shuffle
    // (the run-grouping row_number window below)
    val active = frames.where(col("energy") * col("nw") > col("tot"))
    val grp = col("w") -
      (row_number().over(W.partitionBy("doc_id").orderBy("w")) - 1)
    active.withColumn("grp", grp)
      .groupBy("doc_id", "grp")
      .agg(min(col("w")).as("seg_start"), max(col("w")).as("seg_end"),
        count(lit(1)).as("n_windows"), sum(col("energy")).as("seg_energy"))
      .select(col("doc_id"), col("seg_start"), col("seg_end"),
        col("n_windows"), col("seg_energy"))
  }

  /** Audio near-dup in COLLAPSED form (the m8 contract, applied from
    * day 1 — a fixture keyed mod 97 makes the pairwise output Ω(Σn²) at
    * scale, so the pairwise flavor is never the contract here): one
    * weighted row per duplicate relationship between DISTINCT
    * fingerprints. `(rep, rep, 0, n(n−1)/2)` for a collapsed
    * exact-cluster; `(rep_a, rep_b, h, n_a·n_b)` for a cross pair at
    * Hamming h ≤ maxHamming. Candidates via 5×8-bit pigeonhole chunks
    * of the ≤40-bit fingerprint (distance ≤4 guarantees a shared
    * chunk), exact bit_count verify after the pair fold — candidate volume
    * tracks chunk-bucket occupancy over distinct fingerprints, never
    * raw row count. [[HammingNearDup.collapsed]] builds and pins the
    * class table and runs the join.
    */
  def audioNearDupCollapsed(fps: DataFrame, maxHamming: Int = 4): DataFrame =
    HammingNearDup.collapsed(fps, Seq("fp"), (0 until 5).map(c => HammingNearDup.Chunk(0, c * 8)),
        width = 8, maxHamming)
      .withColumn("hamming", col("hamming").cast("long"))

  /** Video near-dup via sampled-frame fingerprints (M10) — the
    * content-ID shape: a video IS its set of frame fingerprints, two
    * videos are near-dups when they share frames. Input is a
    * [[mp4FrameTable]] frame table; the pipeline collapses byte-exact
    * videos FIRST (canonical content key = md5 of the sorted frame-fp
    * list — m8's weighted-representative lesson, so exact-dup classes
    * never pairwise-enumerate), then joins the surviving distinct
    * videos through the frame-fp inverted index and counts distinct
    * shared frames per pair. Candidate volume tracks fp-bucket
    * occupancy over DISTINCT videos: with real content hashes a frame
    * fp is shared only by actual reuse, so the join output is the true
    * overlap structure, never |videos|².
    */
  def videoNearDupCollapsed(frames: DataFrame, minShared: Int = 2): DataFrame = {
    val vids = frames.groupBy("doc_id")
      .agg(sort_array(collect_set(col("frame_fp"))).as("fps"))
      .select(col("doc_id"), col("fps"), size(col("fps")).as("nf"),
        md5(concat_ws(",", col("fps"))).as("vkey"))
    // distinct-video-bounded class table, read by the exact leg AND both
    // sides of the shared-frame self-join — one container-parse + agg
    // chain instead of three (the d19/d20 `classes` barrier applied to
    // the video surface)
    val grp = vids.groupBy("vkey")
      .agg(min("doc_id").as("rep"), count(lit(1)).as("n"),
        first("nf").as("nf"), first("fps").as("fps"))
      .transform(graft.util.Barriers.corpusScale)
    val exact = grp.where(col("n") >= 2)
      .select(col("rep").as("rep_a"), col("rep").as("rep_b"),
        col("nf").cast("long").as("shared"),
        expr("(n * (n - 1)) DIV 2").as("weight"))
    val inv = grp.select(col("rep"), col("n"), explode(col("fps")).as("fp"))
    val l = inv.alias("l")
    val r = inv.alias("r")
    val cross = l.join(r, col("l.fp") === col("r.fp") && col("l.rep") < col("r.rep"))
      .groupBy(col("l.rep").as("rep_a"), col("r.rep").as("rep_b"))
      .agg(count(lit(1)).as("shared"), first(col("l.n") * col("r.n")).as("weight"))
      .where(col("shared") >= minShared)
    exact.unionByName(cross.select(col("rep_a"), col("rep_b"),
      col("shared"), col("weight")))
  }

  /** Accumulator from the most recent decodeBatch plan (test hook /
    * post-run observability): rows whose payload failed to decode.
    * Caveats shared with every accumulator-in-transformation: task
    * retries/speculation can over-count, and concurrent decodeBatch
    * calls overwrite the hook — treat as diagnostics, not an exact
    * metric (same contract as HardLimiter/Sampling hooks).
    */
  @volatile private[graft] var lastBadPayloads:
      Option[org.apache.spark.util.LongAccumulator] = None
}
