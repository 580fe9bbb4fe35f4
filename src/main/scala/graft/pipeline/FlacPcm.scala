package graft.pipeline

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** FLAC SAMPLE decode — the full lossless audio path from the public
  * FLAC format spec (RFC 9639), completing what [[FlacHeader]] starts:
  * where `flac_meta` stops at STREAMINFO, `flac_pcm` decodes the first
  * audio FRAME all the way to PCM samples. Unlike the perceptual codecs
  * (MP3/AAC), FLAC is fully ALGORITHMIC — frame headers, UTF-8 coded
  * frame numbers, CRC-8/CRC-16 integrity, constant/verbatim/fixed/LPC
  * subframes, Rice-coded residuals, and inter-channel decorrelation are
  * all closed-form procedures with zero spec table data — so this codec
  * has NO seam: every decoded sample is integer-exact.
  *
  * Decode contract (the GIF pattern: hand-written encoder half,
  * independent decoder half, sample-exact oracle):
  *   - container: `fLaC` marker + metadata-block walk to the first
  *     frame (STREAMINFO consulted only for the bps/rate escape codes)
  *   - frame header (§9.1): 14-bit sync, blocking strategy, all block
  *     size codes (192 / 576·2^n / 256·2^n / 8- and 16-bit literals),
  *     the full sample-rate code table, channel codes 0–10 (independent
  *     1–2ch plus left/side, right/side, mid/side), sample sizes
  *     8/12/16/20/24 (the 32-bit code parses but fails CLOSED — the
  *     Int-width sample path would wrap a 32/33-bit read, and wrong
  *     samples under a passing CRC-16 are worse than NULL), multi-byte
  *     UTF-8 frame numbers, CRC-8
  *     (poly 0x07) verified over the header bytes
  *   - subframes (§9.2): CONSTANT, VERBATIM, FIXED orders 0–4 (the
  *     published binomial predictors), LPC orders 1–32 (quantized
  *     coefficient precision 1–15, signed shift), wasted-bits unary
  *     prefix with the left-shift reconstruction
  *   - residual (§9.2.7): 4-bit (method 0) and 5-bit (method 1) Rice
  *     parameters, partition orders 0–15 with the first-partition
  *     order deduction, the zigzag fold, and the escape-to-raw
  *     parameter (k = 15 / 31 → 5-bit literal width)
  *   - stereo decorrelation (§4.2): side = l − r with the stored
  *     channel widened to bps+1; mid/side reconstructed through the
  *     exact (mid·2 | side&1) parity fold
  *   - CRC-16 (poly 0x8005) verified over the whole frame; a frame
  *     whose CRC, sync, or any field is malformed → NULL
  *
  * The surfaced stats pin every OUTPUT sample and its position per
  * channel (sum + position-weighted sum + min/max + nonzero count), and
  * `frame_bytes` pins total bit consumption the way part2_3_length does
  * for MP3 — the oracle re-derives the Rice bit lengths of every
  * residual in closed form, so a decoder that mis-reads even one
  * quotient cannot land on the right frame length.
  *
  * Scale: one narrow codegen'd expression per row; bytes never leave
  * the task, nothing shuffles.
  */
object FlacPcm {

  // ==== CRCs (spec polynomials, init 0, unreflected) ======================

  /** CRC-8, poly x^8+x^2+x+1 (0x07). Spec-pinned against the published
    * check value crc8("123456789") = 0xF4. */
  def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff)
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly x^16+x^15+x^2+1 (0x8005), unreflected, init 0 — the
    * CRC-16/UMTS parameterization, check value crc16("123456789") =
    * 0xFEE8 (spec-pinned). */
  def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
        else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // ==== the encoder half ==================================================

  /** Deterministic per-seed construction parameters — every closed form
    * here is replayed verbatim by the DuckDB oracle. */
  final case class GenParams(d: Long) {
    val n: Int = 64 + (d % 5).toInt * 32            // 64..192 samples
    val mode: Int = (d % 5).toInt                   // 0 mono .. 4 mid/side
    val nch: Int = if (mode == 0) 1 else 2
    /** Frame-header channel code: independent 0/1, then 8/9/10. */
    val chCode: Int = mode match {
      case 0 => 0; case 1 => 1; case 2 => 8; case 3 => 9; case _ => 10
    }
    val po: Int = (d % 2).toInt                     // Rice partition order
    val lpcShift: Int = 2 + (d % 3).toInt
    val lpcOrder: Int = 1 + (d % 4).toInt
    /** Subframe type selector per coded channel: 0 constant, 1 verbatim,
      * 2..6 fixed order 0..4, 7 LPC. */
    def t(c: Int): Int = ((d + 3 * c) % 8).toInt
    def order(c: Int): Int = t(c) match {
      case 0 | 1 => 0
      case 7 => lpcOrder
      case tt => tt - 2
    }
    /** The coded channel's bit width: the side channel of a
      * decorrelated pair carries one extra bit (§4.2). */
    def bpsC(c: Int): Int =
      if ((chCode == 8 && c == 1) || (chCode == 9 && c == 0) ||
        (chCode == 10 && c == 1)) 17 else 16
    /** Coded sample closed form (constant subframes are constant). */
    def x(c: Int, i: Int): Int =
      if (t(c) == 0) (((d * 7 + 13 * c) % 1025) - 512).toInt
      else (((d * (c + 3) + (i + 1).toLong * (i + 7)) % 1025) - 512).toInt
    /** LPC coefficient j (for lag j+1), 5-bit signed range. */
    def qlp(c: Int, j: Int): Int = (((d + c + j) % 15) - 7).toInt
    /** Rice parameter of partition j on channel c. */
    def k(c: Int, j: Int): Int = 6 + ((d + c + j) % 4).toInt
  }

  /** Complete single-frame FLAC file for `seed`: marker, STREAMINFO
    * (last metadata block; MD5 zero = unknown), one fixed-blocksize
    * frame with seed-selected subframe types / stereo mode / Rice
    * layout. The encoder is the hand-written half of the identity gate;
    * [[decode]] is the independent decoder half. */
  def gen(seed: Long): Array[Byte] = {
    val p = GenParams((if (seed < 0) -seed else seed) & Long.MaxValue) // MinValue negates to itself
    val out = new java.io.ByteArrayOutputStream()
    // --- fLaC + STREAMINFO (34 bytes, last-block flag set)
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    out.write(0x80); out.write(0); out.write(0); out.write(34)
    def be16(v: Int): Unit = { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
    def be24(v: Int): Unit = { out.write((v >> 16) & 0xff); be16(v & 0xffff) }
    be16(p.n); be16(p.n)           // min/max block size
    be24(0); be24(0)               // frame size bounds unknown
    // 20-bit rate 44100 | 3-bit ch-1 | 5-bit bps-1 | 36-bit total = n
    val rate = 44100
    out.write((rate >> 12) & 0xff)
    out.write((rate >> 4) & 0xff)
    out.write(((rate & 0xf) << 4) | ((p.nch - 1) << 1) | ((16 - 1) >> 4))
    out.write((((16 - 1) & 0xf) << 4) | 0 /* total bits 35..32 */ )
    be24((p.n >> 8) & 0xffffff); out.write(p.n & 0xff)
    var z = 0
    while (z < 16) { out.write(0); z += 1 } // MD5 unknown
    // --- frame header (byte-aligned by construction: 6 bytes + CRC-8)
    val hdr = new Bits.Writer
    hdr.u(0x3ffe, 14) // sync
    hdr.u(0, 1)       // reserved
    hdr.u(0, 1)       // fixed blocksize stream
    hdr.u(6, 4)       // blocksize: 8-bit n-1 at header end
    hdr.u(9, 4)       // rate: 44.1 kHz
    hdr.u(p.chCode, 4)
    hdr.u(4, 3)       // sample size: 16 bits
    hdr.u(0, 1)       // reserved
    hdr.u(0, 8)       // frame number 0 (UTF-8 single byte)
    hdr.u(p.n - 1, 8)
    val hdrBytes = hdr.align()
    val frame = new Bits.Writer
    hdrBytes.foreach(b => frame.u(b & 0xff, 8))
    frame.u(crc8(hdrBytes, 0, hdrBytes.length), 8)
    // --- subframes
    var c = 0
    while (c < p.nch) {
      val bps = p.bpsC(c)
      val t = p.t(c)
      val ord = p.order(c)
      frame.u(0, 1) // pad
      val typField = t match {
        case 0 => 0
        case 1 => 1
        case 7 => 0x20 | (p.lpcOrder - 1)
        case tt => 8 | (tt - 2)
      }
      frame.u(typField, 6)
      frame.u(0, 1) // no wasted bits
      t match {
        case 0 => frame.u(p.x(c, 0) & ((1 << bps) - 1), bps)
        case 1 =>
          var i = 0
          while (i < p.n) { frame.u(p.x(c, i) & ((1 << bps) - 1), bps); i += 1 }
        case _ =>
          var i = 0
          while (i < ord) { frame.u(p.x(c, i) & ((1 << bps) - 1), bps); i += 1 }
          if (t == 7) {
            frame.u(5 - 1, 4)          // qlp precision 5
            frame.u(p.lpcShift, 5)     // quantization shift
            var j = 0
            while (j < ord) { frame.u(p.qlp(c, j) & 0x1f, 5); j += 1 }
          }
          frame.u(0, 2)  // residual method 0: 4-bit Rice
          frame.u(p.po, 4)
          val perPart = p.n >> p.po
          var part = 0
          while (part < (1 << p.po)) {
            val kk = p.k(c, part)
            frame.u(kk, 4)
            var i2 = if (part == 0) ord else part * perPart
            val end = (part + 1) * perPart
            while (i2 < end) {
              frame.rice(residual(p, c, i2), kk)
              i2 += 1
            }
            part += 1
          }
      }
      c += 1
    }
    val body = frame.align() // zero-pads to the byte boundary
    out.write(body, 0, body.length)
    val all = out.toByteArray
    val fcrc = crc16(all, 42, all.length) // frame starts after 4+4+34
    out.write((fcrc >> 8) & 0xff); out.write(fcrc & 0xff)
    out.toByteArray
  }

  /** The predictor residual the encoder writes for sample i ≥ order —
    * fixed orders use the published binomial weights; LPC uses the
    * seed-derived quantized coefficients with the arithmetic-shift
    * prediction of §9.2.6. */
  private def residual(p: GenParams, c: Int, i: Int): Int = {
    def x(j: Int) = p.x(c, j)
    p.t(c) match {
      case 2 => x(i)
      case 3 => x(i) - x(i - 1)
      case 4 => x(i) - 2 * x(i - 1) + x(i - 2)
      case 5 => x(i) - 3 * x(i - 1) + 3 * x(i - 2) - x(i - 3)
      case 6 => x(i) - 4 * x(i - 1) + 6 * x(i - 2) - 4 * x(i - 3) + x(i - 4)
      case 7 =>
        var acc = 0L
        var j = 0
        while (j < p.lpcOrder) { acc += p.qlp(c, j).toLong * x(i - 1 - j); j += 1 }
        x(i) - (acc >> p.lpcShift).toInt
      case _ => throw new IllegalStateException("no residual for this type")
    }
  }

  // ==== the decoder half ==================================================

  final case class FlacAudio(blockSize: Int, channels: Int, chanMode: Int,
      bps: Int, subTypes: Array[Int], frameBytes: Long,
      samples: Array[Array[Int]])

  /** Decode the container's FIRST audio frame to PCM. None when the
    * marker, the metadata walk, the frame header (sync/CRC-8/any
    * reserved bit), any subframe, or the frame CRC-16 is malformed, or
    * when the stream has more than 2 channels (outside the surfaced
    * stats schema). */
  def decode(b: Array[Byte]): Option[FlacAudio] = {
    try {
      if (b == null || b.length < 42) return None
      if (b(0) != 'f' || b(1) != 'L' || b(2) != 'a' || b(3) != 'C') return None
      // metadata walk to the first frame; remember STREAMINFO for the
      // from-streaminfo escape codes
      if ((b(4) & 0x7f) != 0) return None
      // STREAMINFO payload starts at byte 8; rate|ch|bps live at 18–21
      val siBps = ((((b(20) & 1) << 4) | ((b(21) & 0xff) >> 4)) + 1)
      val siRate = ((b(18) & 0xff) << 12) | ((b(19) & 0xff) << 4) | ((b(20) & 0xff) >> 4)
      var off = 4
      var last = false
      while (!last) {
        if (off + 4 > b.length) return None
        last = (b(off) & 0x80) != 0
        val len = ((b(off + 1) & 0xff) << 16) | ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)
        off += 4 + len
      }
      if (off >= b.length) return None
      val frameStart = off
      val r = new Bits.Reader(b, frameStart.toLong * 8)
      if (r.u(14) != 0x3ffe) return None
      if (r.u(1) != 0) return None
      r.u(1) // blocking strategy (frame- vs sample-numbered; both fine)
      val bsCode = r.u(4)
      val rateCode = r.u(4)
      val chCode = r.u(4)
      val szCode = r.u(3)
      if (r.u(1) != 0) return None
      // UTF-8 coded frame/sample number (1–7 bytes)
      val f0 = r.u(8)
      var cont = 0
      var probe = f0
      while ((probe & 0x80) != 0) { cont += 1; probe <<= 1; probe &= 0xff }
      if (cont == 1 || cont > 7) return None
      var i = 1
      while (i < cont) { if ((r.u(8) & 0xc0) != 0x80) return None; i += 1 }
      val blockSize = bsCode match {
        case 0 => return None
        case 1 => 192
        case c if c <= 5 => 576 << (c - 2)
        case 6 => r.u(8) + 1
        case 7 => r.u(16) + 1
        case c => 256 << (c - 8)
      }
      rateCode match {
        case 0 => if (siRate == 0) return None
        case 12 => r.u(8)
        case 13 | 14 => r.u(16)
        case 15 => return None
        case _ => ()
      }
      val bps = szCode match {
        case 0 => siBps
        case 1 => 8
        case 2 => 12
        case 3 => return None
        case 4 => 16
        case 5 => 20
        case 6 => 24
        case 7 => 32
      }
      // Fail CLOSED past 24 bits: the Int-width bit reader would wrap a
      // 32-bit warm-up/verbatim read (signed(32) computes v − (1<<32),
      // which in 32-bit arithmetic is v − 1 — off by one on every
      // negative sample) and a decorrelated side channel at bps 32
      // needs 33-bit reads outright. CRC-16 would still pass (it checks
      // the BITSTREAM, not the reconstruction), so without this guard a
      // valid 32-bit stream would decode silently wrong; NULL is the
      // contract for out-of-scope inputs.
      if (bps > 24) return None
      val nch = if (chCode < 8) chCode + 1
      else if (chCode <= 10) 2
      else return None
      if (nch > 2) return None
      if (blockSize <= 0 || blockSize > 65536) return None
      // CRC-8 over the header bytes (byte-aligned here by construction)
      val hdrEnd = (r.pos >> 3).toInt
      if (r.u(8) != crc8(b, frameStart, hdrEnd)) return None
      // subframes
      val subTypes = new Array[Int](2); subTypes(1) = -1
      val chans = new Array[Array[Int]](nch)
      var c = 0
      while (c < nch) {
        val bpsC = bps + (if ((chCode == 8 && c == 1) || (chCode == 9 && c == 0) ||
          (chCode == 10 && c == 1)) 1 else 0)
        if (r.u(1) != 0) return None
        val typ = r.u(6)
        subTypes(c) = typ
        val wasted = if (r.u(1) == 1) r.unary() + 1 else 0
        val eb = bpsC - wasted
        if (eb <= 0) return None
        val xs = new Array[Int](blockSize)
        if (typ == 0) {
          val v = r.signed(eb)
          java.util.Arrays.fill(xs, v)
        } else if (typ == 1) {
          var i2 = 0
          while (i2 < blockSize) { xs(i2) = r.signed(eb); i2 += 1 }
        } else if ((typ >= 8 && typ <= 12) || (typ & 0x20) != 0) {
          val lpc = (typ & 0x20) != 0
          val ord = if (lpc) (typ & 0x1f) + 1 else typ - 8
          if (ord > blockSize) return None
          var i2 = 0
          while (i2 < ord) { xs(i2) = r.signed(eb); i2 += 1 }
          var prec = 0; var shift = 0; var coeffs: Array[Int] = null
          if (lpc) {
            prec = r.u(4) + 1
            if (prec == 16) return None // 1111 is invalid
            shift = r.signed(5)
            if (shift < 0) return None
            coeffs = Array.tabulate(ord)(_ => r.signed(prec))
          }
          // residual: Rice partitions
          val method = r.u(2)
          if (method > 1) return None
          val pbits = if (method == 0) 4 else 5
          val escape = (1 << pbits) - 1
          val po = r.u(4)
          if ((blockSize & ((1 << po) - 1)) != 0) return None
          val perPart = blockSize >> po
          val res = new Array[Int](blockSize)
          var part = 0
          while (part < (1 << po)) {
            val kk = r.u(pbits)
            var i3 = if (part == 0) ord else part * perPart
            if (part == 0 && perPart < ord) return None
            val end = (part + 1) * perPart
            if (kk == escape) {
              val raw = r.u(5)
              while (i3 < end) { res(i3) = r.signed(raw); i3 += 1 }
            } else {
              while (i3 < end) {
                res(i3) = r.rice(kk)
                i3 += 1
              }
            }
            part += 1
          }
          // reconstruct
          if (lpc) {
            var i4 = ord
            while (i4 < blockSize) {
              var acc = 0L
              var j = 0
              while (j < ord) { acc += coeffs(j).toLong * xs(i4 - 1 - j); j += 1 }
              xs(i4) = res(i4) + (acc >> shift).toInt
              i4 += 1
            }
          } else {
            var i4 = ord
            while (i4 < blockSize) {
              xs(i4) = ord match {
                case 0 => res(i4)
                case 1 => res(i4) + xs(i4 - 1)
                case 2 => res(i4) + 2 * xs(i4 - 1) - xs(i4 - 2)
                case 3 => res(i4) + 3 * xs(i4 - 1) - 3 * xs(i4 - 2) + xs(i4 - 3)
                case _ => res(i4) + 4 * xs(i4 - 1) - 6 * xs(i4 - 2) +
                  4 * xs(i4 - 3) - xs(i4 - 4)
              }
              i4 += 1
            }
          }
        } else return None
        if (wasted > 0) {
          var i5 = 0
          while (i5 < blockSize) { xs(i5) <<= wasted; i5 += 1 }
        }
        chans(c) = xs
        c += 1
      }
      // undo stereo decorrelation (§4.2)
      if (chCode == 8) { // left/side: ch1 = l - r
        var i6 = 0
        while (i6 < blockSize) { chans(1)(i6) = chans(0)(i6) - chans(1)(i6); i6 += 1 }
      } else if (chCode == 9) { // right/side: ch0 = l - r, ch1 = r
        var i6 = 0
        while (i6 < blockSize) { chans(0)(i6) = chans(1)(i6) + chans(0)(i6); i6 += 1 }
      } else if (chCode == 10) { // mid/side with the parity fold
        var i6 = 0
        while (i6 < blockSize) {
          val side = chans(1)(i6)
          val m2 = (chans(0)(i6) << 1) | (side & 1)
          chans(0)(i6) = (m2 + side) >> 1
          chans(1)(i6) = (m2 - side) >> 1
          i6 += 1
        }
      }
      // byte-align and verify the frame CRC-16
      r.pos = (r.pos + 7) & ~7L
      val crcAt = (r.pos >> 3).toInt
      if (r.u(16) != crc16(b, frameStart, crcAt)) return None
      Some(FlacAudio(blockSize, nch, chCode, bps, subTypes,
        (r.pos >> 3) - frameStart, chans))
    } catch {
      case _: IllegalArgumentException | _: ArrayIndexOutOfBoundsException |
           _: MatchError | _: NegativeArraySizeException => None
    }
  }

  // ==== Catalyst surface ==================================================

  /** `flac_gen_audio(seed)`: deterministic single-frame FLAC file. */
  case class FlacGenAudioExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case LongType | IntegerType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"flac_gen_audio requires an integral seed, got ${t.catalogString}")
    }
    override def nullSafeEval(input: Any): Any = input match {
      case l: java.lang.Long => FlacPcm.gen(l)
      case i: java.lang.Integer => FlacPcm.gen(i.toLong)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.pipeline.FlacPcm.gen((long) $c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "flac_gen_audio"
  }

  /** Integer-exact per-channel sample functionals of the decoded frame. */
  def pcmRow(b: Array[Byte]): InternalRow = decode(b) match {
    case None => null
    case Some(a) =>
      var minS = Long.MaxValue; var maxS = Long.MinValue; var nz = 0L
      val sums = new Array[Long](2)
      val wsums = new Array[Long](2)
      var c = 0
      while (c < a.channels) {
        val xs = a.samples(c)
        var i = 0
        while (i < xs.length) {
          val v = xs(i).toLong
          if (v < minS) minS = v
          if (v > maxS) maxS = v
          if (v != 0) nz += 1
          sums(c) += v
          wsums(c) += (i + 1) * v
          i += 1
        }
        c += 1
      }
      InternalRow(a.blockSize.toLong, a.channels.toLong, a.chanMode.toLong,
        a.bps.toLong, a.subTypes(0).toLong, a.subTypes(1).toLong,
        a.frameBytes, minS, maxS, nz, sums(0), wsums(0), sums(1), wsums(1))
  }

  val PcmSchema: StructType = StructType(Seq(
    StructField("block_size", LongType),
    StructField("channels", LongType),
    StructField("chan_mode", LongType),
    StructField("bps", LongType),
    StructField("subframe_type0", LongType),
    StructField("subframe_type1", LongType),
    StructField("frame_bytes", LongType),
    StructField("min_s", LongType),
    StructField("max_s", LongType),
    StructField("n_nonzero", LongType),
    StructField("ch0_sum", LongType),
    StructField("ch0_wsum", LongType),
    StructField("ch1_sum", LongType),
    StructField("ch1_wsum", LongType)))

  /** `flac_pcm(bytes)`: frame-header fields + integer-exact per-channel
    * sample functionals of the first decoded FLAC frame, NULL on any
    * malformed stream (sync, CRC-8, CRC-16, subframe shape). */
  case class FlacPcmExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = PcmSchema
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"flac_pcm requires binary input, got ${child.dataType.catalogString}")
    override def nullSafeEval(input: Any): Any =
      FlacPcm.pcmRow(input.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = graft.pipeline.FlacPcm.pcmRow($c);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "flac_pcm"
  }
}
