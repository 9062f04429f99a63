package graft.multimodal

import java.nio.ByteBuffer

/** Real COMPRESSED-container parsing for the two formats the stub layer
  * previously owned end-to-end: MPEG audio (MP3) frame streams and
  * ISO-BMFF (MP4) box trees. A pure JVM cannot entropy-decode either
  * payload (no Huffman/MDCT or H.264 CABAC without native libs — that
  * single step remains the documented `StubCodec` swap point), but the
  * CONTAINER layer is plain big-endian byte structure per the public
  * specs (ISO 11172-3 frame headers; ISO 14496-12 boxes), so sample
  * rate, bitrate, frame count, duration, track geometry, and the
  * payload regions are all genuinely parsed — any external reader
  * (ffprobe, mediainfo) agrees on these values for the bytes we emit.
  *
  * Like the rest of the codec layer: encoders exist so the pipeline can
  * synthesize REAL containers from deterministic test data, decoders
  * fail loudly on malformed structure (bad sync, reserved indices,
  * truncated frames, box overruns), and every parsed field is
  * oracle-predictable from the source bytes.
  */
object ContainerCodec {

  // ---------- MP3 (MPEG-1 Layer III, ISO 11172-3) ----------

  /** Bitrates (bps) for MPEG-1 Layer III, header index 1..14. */
  private val Mp3Bitrates = Array(
    -1, 32000, 40000, 48000, 56000, 64000, 80000, 96000, 112000,
    128000, 160000, 192000, 224000, 256000, 320000, -1)

  /** Sample rates (Hz) for MPEG-1, header index 0..2. */
  private val Mp3SampleRates = Array(44100, 48000, 32000, -1)

  final case class Mp3Info(
      sampleRate: Int,
      bitrate: Int,
      nFrames: Int,
      dataBytes: Array[Byte]) // concatenated frame payloads (post-header)

  /** True for a bare MPEG frame stream (0xFFE sync) or an ID3v2-tagged
    * one ("ID3" preamble). JPEG's 0xFF 0xD8 does NOT match the second
    * sync byte (top three bits 110, not 111).
    */
  def isMp3(payload: Array[Byte]): Boolean =
    (payload.length >= 2 &&
      (payload(0) & 0xff) == 0xff && (payload(1) & 0xe0) == 0xe0) ||
    (payload.length >= 10 &&
      payload(0) == 'I' && payload(1) == 'D' && payload(2) == '3')

  /** Encode `data` into a REAL CBR MPEG-1 Layer III frame stream:
    * 128 kbps, 44.1 kHz, no CRC, mono — frame length 417 bytes
    * (⌊144·128000/44100⌋, no padding bit), so each frame carries 413
    * payload bytes of `data` (zero-padded in the final frame; at least
    * one frame even for empty input). The payload bytes are NOT valid
    * Huffman audio — decoding them to PCM is exactly the stubbed step —
    * but the FRAME STRUCTURE is spec-true: any MP3 frame walker
    * (including ours) reports 128 kbps / 44.1 kHz / the same frame
    * count.
    */
  def encodeMp3Frames(data: Array[Byte]): Array[Byte] = {
    val frameLen = 144 * 128000 / 44100 // 417
    val cap = frameLen - 4
    val nFrames = math.max(1, (data.length + cap - 1) / cap)
    val out = new Array[Byte](nFrames * frameLen)
    for (f <- 0 until nFrames) {
      val base = f * frameLen
      out(base) = 0xff.toByte
      out(base + 1) = 0xfb.toByte // MPEG-1 (11), Layer III (01), no CRC (1)
      out(base + 2) = 0x90.toByte // bitrate idx 9 (128k), rate idx 0 (44.1k)
      out(base + 3) = 0xc0.toByte // mono
      val src = f * cap
      val n = math.min(cap, math.max(0, data.length - src))
      if (n > 0) System.arraycopy(data, src, out, base + 4, n)
    }
    out
  }

  /** Walk an MP3 frame stream (skipping a leading ID3v2 tag if present)
    * and return the parsed stream parameters plus the concatenated
    * frame-payload region. CBR validation: every frame must carry the
    * same bitrate/sample-rate as the first (the CBR contract our
    * encoder emits; VBR would need a Xing header walk). Fails loudly on
    * bad sync, reserved indices, or a truncated final frame.
    */
  def parseMp3(payload: Array[Byte]): Mp3Info = {
    require(isMp3(payload), "not an MPEG audio stream (no sync/ID3)")
    var off = 0
    if (payload.length >= 10 && payload(0) == 'I' && payload(1) == 'D' &&
        payload(2) == '3') {
      // ID3v2 size: 4 sync-safe bytes (7 bits each) after the 6-byte
      // preamble; the tag body follows the 10-byte header
      val size = ((payload(6) & 0x7f) << 21) | ((payload(7) & 0x7f) << 14) |
        ((payload(8) & 0x7f) << 7) | (payload(9) & 0x7f)
      off = 10 + size
      require(off < payload.length, "ID3 tag overruns the payload")
    }
    var sampleRate = -1
    var bitrate = -1
    var nFrames = 0
    val data = new java.io.ByteArrayOutputStream()
    while (off < payload.length) {
      require(off + 4 <= payload.length, s"truncated frame header at $off")
      require((payload(off) & 0xff) == 0xff && (payload(off + 1) & 0xe0) == 0xe0,
        s"lost frame sync at offset $off")
      require((payload(off + 1) & 0x18) == 0x18,
        "only MPEG-1 streams supported (version bits)")
      require((payload(off + 1) & 0x06) == 0x02,
        "only Layer III streams supported (layer bits)")
      val bIdx = (payload(off + 2) & 0xf0) >>> 4
      val sIdx = (payload(off + 2) & 0x0c) >>> 2
      val pad = (payload(off + 2) & 0x02) >>> 1
      val br = Mp3Bitrates(bIdx)
      val sr = Mp3SampleRates(sIdx)
      require(br > 0 && sr > 0, s"reserved bitrate/rate index at frame $nFrames")
      if (nFrames == 0) { sampleRate = sr; bitrate = br }
      else require(sr == sampleRate && br == bitrate,
        s"VBR/rate change at frame $nFrames (CBR stream expected)")
      val frameLen = 144 * br / sr + pad
      require(off + frameLen <= payload.length,
        s"truncated frame $nFrames (need $frameLen bytes at $off)")
      data.write(payload, off + 4, frameLen - 4)
      off += frameLen
      nFrames += 1
    }
    require(nFrames > 0, "no frames after ID3 tag")
    Mp3Info(sampleRate, bitrate, nFrames, data.toByteArray)
  }

  // ---------- MP4 (ISO-BMFF, ISO 14496-12) ----------

  final case class Mp4Info(
      timescale: Long,
      duration: Long,
      width: Int,
      height: Int,
      mdat: Array[Byte])

  /** ISO-BMFF magic: a 4-byte box size followed by 'ftyp'. */
  def isMp4(payload: Array[Byte]): Boolean =
    payload.length >= 8 && payload(4) == 'f' && payload(5) == 't' &&
      payload(6) == 'y' && payload(7) == 'p'

  private def be32(a: Array[Byte], i: Int): Int = RealCodec.be32(a, i)

  private def boxType(a: Array[Byte], i: Int): String =
    new String(a, i + 4, 4, "US-ASCII")

  /** Encode a minimal but SPEC-TRUE box tree:
    * `ftyp(isom) · moov( mvhd(timescale, duration) · trak(tkhd(w,h)) ) ·
    * mdat(data)` — version-0 full boxes, 16.16 fixed-point geometry in
    * tkhd, every box length-prefixed so any ISO-BMFF walker (ours,
    * ffprobe, mp4dump) reads the same structure. The mdat payload is
    * opaque (H.264 entropy decode is the stubbed step).
    */
  def encodeMp4(
      data: Array[Byte], width: Int, height: Int,
      timescale: Long, duration: Long): Array[Byte] = {
    require(width > 0 && height > 0 && timescale > 0 && duration >= 0,
      s"bad mp4 geometry/time ($width x $height, $timescale, $duration)")
    // field widths in the version-0 boxes: 16.16 fixed geometry, u32
    // timing — overflow must fail loudly, never truncate silently
    require(width <= 0xffff && height <= 0xffff,
      s"geometry exceeds the 16.16 tkhd field ($width x $height)")
    require(timescale <= 0xffffffffL && duration <= 0xffffffffL,
      s"timing exceeds the u32 mvhd fields ($timescale, $duration)")
    def box(typ: String, body: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + body.length)
      b.putInt(8 + body.length).put(typ.getBytes("US-ASCII")).put(body)
      b.array()
    }
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 2, 0) ++
        "isom".getBytes("US-ASCII"))
    val mvhd = box("mvhd", {
      val b = ByteBuffer.allocate(100)
      b.putInt(0)                  // version 0 + flags
      b.putInt(0).putInt(0)        // creation/modification time
      b.putInt(timescale.toInt)
      b.putInt(duration.toInt)
      b.putInt(0x00010000)         // rate 1.0
      b.putShort(0x0100.toShort)   // volume 1.0
      b.position(b.position() + 10) // reserved
      // identity matrix (9 × 32-bit fixed)
      b.putInt(0x00010000).putInt(0).putInt(0)
      b.putInt(0).putInt(0x00010000).putInt(0)
      b.putInt(0).putInt(0).putInt(0x40000000)
      b.position(b.position() + 24) // pre_defined
      b.putInt(2)                  // next track id
      b.array()
    })
    val tkhd = box("tkhd", {
      val b = ByteBuffer.allocate(84)
      b.putInt(0x00000007)         // version 0, flags: enabled|in-movie|in-preview
      b.putInt(0).putInt(0)        // creation/modification time
      b.putInt(1)                  // track id
      b.putInt(0)                  // reserved
      b.putInt(duration.toInt)
      b.position(b.position() + 8) // reserved
      b.putShort(0).putShort(0)    // layer, alternate group
      b.putShort(0).putShort(0)    // volume (video), reserved
      b.putInt(0x00010000).putInt(0).putInt(0)
      b.putInt(0).putInt(0x00010000).putInt(0)
      b.putInt(0).putInt(0).putInt(0x40000000)
      b.putInt(width << 16)        // 16.16 fixed
      b.putInt(height << 16)
      b.array()
    })
    val moov = box("moov", mvhd ++ box("trak", tkhd))
    ftyp ++ moov ++ box("mdat", data)
  }

  /** Walk the top-level box sequence (and moov's children) and return
    * the movie header timing, first track geometry, and the raw mdat
    * payload. Fails loudly on overrunning/undersized boxes or a missing
    * moov/mvhd — a torn upload must never parse as an empty movie.
    */
  def parseMp4(payload: Array[Byte]): Mp4Info = {
    require(isMp4(payload), "not an ISO-BMFF container (no ftyp)")
    var timescale = -1L
    var duration = -1L
    var width = -1
    var height = -1
    var mdat: Array[Byte] = Array.emptyByteArray
    def walk(from: Int, until: Int, depth: Int): Unit = {
      // well-formed movies nest a handful of levels (moov/trak/mdia/…);
      // a crafted chain of nested container boxes must hit THIS loud
      // bound, not a StackOverflowError
      require(depth <= 16, s"box nesting deeper than 16 at offset $from")
      var off = from
      while (off < until) {
        require(off + 8 <= until, s"truncated box header at $off")
        val size = be32(payload, off)
        val typ = boxType(payload, off)
        require(size >= 8 && off + size <= until,
          s"box $typ size $size overruns its container at $off")
        typ match {
          case "moov" | "trak" => walk(off + 8, off + size, depth + 1)
          case "mvhd" =>
            require(size >= 8 + 24, "mvhd too small")
            require(payload(off + 8) == 0, "only version-0 mvhd supported")
            timescale = be32(payload, off + 20).toLong & 0xffffffffL
            duration = be32(payload, off + 24).toLong & 0xffffffffL
          case "tkhd" =>
            require(size >= 92, "tkhd too small")
            require(payload(off + 8) == 0, "only version-0 tkhd supported")
            if (width < 0) { // first track wins
              width = be32(payload, off + size - 8) >>> 16
              height = be32(payload, off + size - 4) >>> 16
            }
          case "mdat" =>
            mdat = java.util.Arrays.copyOfRange(payload, off + 8, off + size)
          case _ => () // ftyp, free, udta, … skipped
        }
        off += size
      }
    }
    walk(0, payload.length, 0)
    require(timescale > 0 && duration >= 0, "missing/invalid mvhd")
    require(width > 0 && height > 0, "missing/invalid tkhd geometry")
    Mp4Info(timescale, duration, width, height, mdat)
  }
}
