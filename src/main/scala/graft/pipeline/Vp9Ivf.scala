package graft.pipeline

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** VP9-in-IVF STRUCTURAL decode — the second video codec whose
  * structure is decodable from public format specs alone: the IVF
  * container (libvpx's simple capture format: 32-byte "DKIF" file
  * header + 12-byte per-frame length/PTS headers, all little-endian)
  * and the VP9 UNCOMPRESSED frame header (VP9 Bitstream & Decoding
  * Process Specification §6.2: frame marker, profile bits, keyframe
  * sync code 0x498342, color config, and the exact 16-bit
  * width/height-minus-one fields). Sample reconstruction (the VP9
  * arithmetic-coded tile payloads) stays behind the documented codec
  * seam.
  *
  * Decode contract:
  *   - container walk: "DKIF" signature at offset 0, header fields read
  *     LE; each frame advances by its OWN length field (never payload
  *     re-sync), and only fully-present frames count — the container's
  *     frame-count field is surfaced separately so a mismatch is
  *     observable
  *   - every frame's first bits are classified (frame_marker must be
  *     0b10; profile; show_existing_frame; key/inter frame_type) —
  *     keyframes and inter frames are counted separately
  *   - the FIRST keyframe's header is bit-parsed in full: sync code
  *     verified byte-for-byte, profile≥2 bit depth, color space/range,
  *     frame_width/height_minus_1 — so the surfaced dimensions come
  *     from the VP9 BITSTREAM, not the container (the gate fixture
  *     deliberately makes them differ)
  *
  * The generator half ([[Vp9GenExpr]]) is an independent from-scratch
  * MSB-first bit writer; the gate oracle replays every surfaced field
  * in closed form from the seed, and Vp9IvfSpec pins the parser against
  * a hand-assembled bit-literal keyframe vector.
  *
  * Scale: one narrow codegen'd expression per row; bytes never leave
  * the task, nothing shuffles.
  */
object Vp9Ivf {

  // ==== byte plumbing =====================================================

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  private def le64(b: Array[Byte], i: Int): Long = le32(b, i) | (le32(b, i + 4) << 32)

  // ==== generator =========================================================

  /** Seed-parametrized construction — the closed forms the gate oracle
    * replays. The bitstream dims deliberately differ from the container
    * dims (+1 / +2) so the gate proves which one the parser read. */
  private def nFrames(d: Long): Int = (d % 7).toInt + 1
  private def basePayload(d: Long): Int = (d % 40).toInt + 12
  private def profile(d: Long): Int = ((d % 2) * 2).toInt // 0 or 2
  private def tenBit(d: Long): Int = ((d % 4) / 2).toInt
  private def colorSpace(d: Long): Int = (d % 7).toInt // never 7 = CS_RGB
  private def colorRange(d: Long): Int = (d % 2).toInt
  private def ivfW(d: Long): Int = (d % 640).toInt + 16
  private def ivfH(d: Long): Int = (d % 360).toInt + 16
  private def tbDen(d: Long): Int = (d % 30).toInt + 1
  private def pts(d: Long, f: Int): Long = d * 7 + f * 1000L

  private def frameBits(d: Long, key: Boolean): Array[Byte] = {
    val w = new Bits.Writer
    val p = profile(d)
    w.u(2, 2) // frame_marker 0b10
    w.u(p & 1, 1) // profile_low_bit
    w.u((p >> 1) & 1, 1) // profile_high_bit
    w.u(0, 1) // show_existing_frame
    w.u(if (key) 0 else 1, 1) // frame_type: 0 = KEY
    w.u(1, 1) // show_frame
    w.u((d % 2).toInt, 1) // error_resilient_mode
    if (key) {
      w.u(0x49, 8); w.u(0x83, 8); w.u(0x42, 8) // frame_sync_code
      if (p >= 2) w.u(tenBit(d), 1) // ten_or_twelve_bit
      w.u(colorSpace(d), 3)
      w.u(colorRange(d), 1) // color_space != CS_RGB, so present
      // profiles 0/2: 4:2:0 subsampling implied, no bits
      w.u(ivfW(d) + 1 - 1, 16) // frame_width_minus_1 (bitstream w = ivf w + 1)
      w.u(ivfH(d) + 2 - 1, 16) // frame_height_minus_1 (bitstream h = ivf h + 2)
      w.u(0, 1) // render_and_frame_size_different
    }
    w.align()
  }

  /** Deterministic IVF file for a seed: "DKIF" header (libvpx layout:
    * version, header size 32, "VP90" fourcc, dims, timebase rate/scale,
    * frame count), then length/PTS-framed VP9 frames — frame 0 a
    * keyframe, the rest inter frames, payloads padded with a nonzero
    * filler to seed-varying lengths. */
  def generate(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = (0 until 4).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    def w64(v: Long): Unit = (0 until 8).foreach(i => out.write(((v >> (8 * i)) & 0xff).toInt))
    out.write('D'); out.write('K'); out.write('I'); out.write('F')
    w16(0) // version
    w16(32) // header size
    out.write('V'); out.write('P'); out.write('9'); out.write('0')
    w16(ivfW(d)); w16(ivfH(d))
    w32(tbDen(d)) // timebase rate (denominator)
    w32(1) // timebase scale (numerator)
    w32(nFrames(d))
    w32(0) // unused
    var f = 0
    while (f < nFrames(d)) {
      val header = frameBits(d, key = f == 0)
      val len = basePayload(d) + f
      val payload = new Array[Byte](len)
      System.arraycopy(header, 0, payload, 0, header.length)
      var j = header.length
      while (j < len) {
        payload(j) = (((d * 13 + f * 5 + j * 3) % 255) + 1).toByte
        j += 1
      }
      w32(len)
      w64(pts(d, f))
      out.write(payload, 0, len)
      f += 1
    }
    out.toByteArray
  }

  // ==== parser ============================================================

  final case class KeyInfo(profile: Int, bitDepth: Int, colorSpace: Int,
      colorRange: Int, width: Int, height: Int)

  final case class Vp9Meta(fourcc: String, ivfWidth: Int, ivfHeight: Int,
      tbDen: Long, tbNum: Long, hdrFrames: Long, frames: Long,
      keyFrames: Long, interFrames: Long, payloadBytes: Long,
      lastPts: Long, key: Option[KeyInfo])

  private def parseKeyHeader(b: Array[Byte], from: Int, until: Int): Option[KeyInfo] =
    try {
      val r = new Bits.Reader(b, from * 8L, until * 8L)
      if (r.u(2) != 2) return None
      val lo = r.u(1); val hi = r.u(1)
      val p = (hi << 1) | lo
      if (p == 3) r.u(1) // reserved_zero
      if (r.u(1) != 0) return None // show_existing_frame
      if (r.u(1) != 0) return None // must be a keyframe here
      r.u(1) // show_frame
      r.u(1) // error_resilient_mode
      if (r.u(8) != 0x49 || r.u(8) != 0x83 || r.u(8) != 0x42) return None
      val depth = if (p >= 2) { if (r.u(1) == 1) 12 else 10 } else 8
      val cs = r.u(3)
      var range = 0
      if (cs != 7) range = r.u(1)
      else if (p == 1 || p == 3) r.u(1) // CS_RGB reserved bit
      if (p == 1 || p == 3) { r.u(1); r.u(1); r.u(1) } // subsampling + reserved
      val w = r.u(16) + 1
      val h = r.u(16) + 1
      Some(KeyInfo(p, depth, cs, range, w, h))
    } catch { case _: IllegalArgumentException => None }

  /** (isValidMarker, isKey) from a frame's first bits. */
  private def classify(b: Array[Byte], from: Int, until: Int): Option[Boolean] =
    try {
      val r = new Bits.Reader(b, from * 8L, until * 8L)
      if (r.u(2) != 2) return None
      val lo = r.u(1); val hi = r.u(1)
      if (((hi << 1) | lo) == 3) r.u(1)
      if (r.u(1) != 0) return None // show_existing_frame: out of scope
      Some(r.u(1) == 0)
    } catch { case _: IllegalArgumentException => None }

  def parse(b: Array[Byte]): Option[Vp9Meta] = {
    if (b == null || b.length < 32) return None
    if (b(0) != 'D' || b(1) != 'K' || b(2) != 'I' || b(3) != 'F') return None
    if (le16(b, 6) < 32) return None // header size
    val fourcc = new String(b, 8, 4, "US-ASCII")
    val w = le16(b, 12); val h = le16(b, 14)
    val den = le32(b, 16); val num = le32(b, 20)
    val hdrFrames = le32(b, 24)
    var i = le16(b, 6)
    var frames = 0L; var keys = 0L; var inters = 0L
    var payload = 0L; var lastPts = 0L
    var keyInfo: Option[KeyInfo] = None
    var walking = true
    while (walking && i + 12 <= b.length) {
      val len = le32(b, i)
      if (len <= 0 || i + 12 + len > b.length) walking = false
      else {
        val from = i + 12
        val until = from + len.toInt
        classify(b, from, until) match {
          case Some(isKey) =>
            frames += 1
            payload += len
            lastPts = le64(b, i + 4)
            if (isKey) {
              keys += 1
              if (keyInfo.isEmpty) keyInfo = parseKeyHeader(b, from, until)
            } else inters += 1
            i = until
          case None => walking = false
        }
      }
    }
    if (frames == 0) return None
    Some(Vp9Meta(fourcc, w, h, den, num, hdrFrames, frames, keys, inters,
      payload, lastPts, keyInfo))
  }

  /** Per-frame walk rows for [[Vp9FramesExpr]]: one entry per
    * fully-present IVF frame — index, byte offset of its 12-byte
    * length/PTS header, payload length, PTS, and key/inter
    * classification from the frame's own first bits. The offsets come
    * from the ACTUAL walk, so a closed-form prefix-sum oracle pins the
    * length arithmetic per frame (the video twin of `mp3_frames`). */
  def framesRows(b: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayData = {
    if (b == null || b.length < 32) return null
    if (b(0) != 'D' || b(1) != 'K' || b(2) != 'I' || b(3) != 'F') return null
    if (le16(b, 6) < 32) return null
    var i = le16(b, 6)
    var idx = 0
    val rows = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    var walking = true
    while (walking && i + 12 <= b.length) {
      val len = le32(b, i)
      if (len <= 0 || i + 12 + len > b.length) walking = false
      else {
        val from = i + 12
        val until = from + len.toInt
        classify(b, from, until) match {
          case Some(isKey) =>
            rows += InternalRow(idx, i.toLong, len, le64(b, i + 4),
              if (isKey) 1 else 0)
            idx += 1
            i = until
          case None => walking = false
        }
      }
    }
    if (rows.isEmpty) null
    else new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray[Any])
  }

  /** `vp9_frames(binary)`: array of per-frame structs (index, byte
    * offset, payload length, PTS, key flag) from the IVF walk, null
    * if no valid frame — downstream explodes only this tiny struct
    * array; payload bytes never leave their row. */
  case class Vp9FramesExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = Vp9FramesExpr.schema
    override def nullable: Boolean = true
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (child.dataType == BinaryType)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"vp9_frames requires binary input, got ${child.dataType.catalogString}")
    override def nullSafeEval(input: Any): Any =
      Vp9Ivf.framesRows(input.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = graft.pipeline.Vp9Ivf.framesRows($c);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "vp9_frames"
  }

  object Vp9FramesExpr {
    val schema: DataType = org.apache.spark.sql.types.ArrayType(StructType(Seq(
      StructField("frame_idx", IntegerType),
      StructField("offset", LongType),
      StructField("frame_len", LongType),
      StructField("pts", LongType),
      StructField("is_key", IntegerType))))
  }

  def parseRow(bytes: Array[Byte]): InternalRow = parse(bytes) match {
    case Some(m) =>
      val k = m.key
      InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(m.fourcc),
        m.ivfWidth, m.ivfHeight, m.tbDen, m.tbNum, m.hdrFrames, m.frames,
        m.keyFrames, m.interFrames, m.payloadBytes, m.lastPts,
        k.map(x => Int.box(x.profile)).orNull,
        k.map(x => Int.box(x.bitDepth)).orNull,
        k.map(x => Int.box(x.colorSpace)).orNull,
        k.map(x => Int.box(x.colorRange)).orNull,
        k.map(x => Int.box(x.width)).orNull,
        k.map(x => Int.box(x.height)).orNull)
    case None => null
  }

  // ==== expressions =======================================================

  /** `vp9_gen(seed)`: deterministic VP9-in-IVF file for the seed. */
  case class Vp9GenExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType || child.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"vp9_gen requires an integral seed, got ${child.dataType.catalogString}")
    override def nullSafeEval(input: Any): Any = input match {
      case l: java.lang.Long => Vp9Ivf.generate(l.longValue())
      case i: java.lang.Integer => Vp9Ivf.generate(i.longValue())
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.pipeline.Vp9Ivf.generate((long) $c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "vp9_gen"
  }

  /** `vp9_meta(binary)`: IVF walk + first-keyframe VP9 header parse,
    * null when the container signature or every frame is invalid. */
  case class Vp9MetaExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = Vp9MetaExpr.schema
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"vp9_meta requires binary input, got ${child.dataType.catalogString}")
    override def nullSafeEval(input: Any): Any =
      Vp9Ivf.parseRow(input.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = graft.pipeline.Vp9Ivf.parseRow($c);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "vp9_meta"
  }

  object Vp9MetaExpr {
    val schema: StructType = StructType(Seq(
      StructField("fourcc", StringType),
      StructField("ivf_width", IntegerType),
      StructField("ivf_height", IntegerType),
      StructField("tb_den", LongType),
      StructField("tb_num", LongType),
      StructField("hdr_frames", LongType),
      StructField("frames", LongType),
      StructField("key_frames", LongType),
      StructField("inter_frames", LongType),
      StructField("payload_bytes", LongType),
      StructField("last_pts", LongType),
      StructField("profile", IntegerType, nullable = true),
      StructField("bit_depth", IntegerType, nullable = true),
      StructField("color_space", IntegerType, nullable = true),
      StructField("color_range", IntegerType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true)))
  }
}
