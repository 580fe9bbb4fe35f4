package graft.pipeline

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** H.264 / AVC STRUCTURAL decode — the video half of the transform-coded
  * tier that IS decodable from public structure alone: the Annex-B byte
  * stream framing and the sequence parameter set. Pixel reconstruction
  * (CABAC/CAVLC entropy decode + inverse transform + motion
  * compensation) remains the documented codec-seam stub; everything a
  * corpus pipeline actually asks of an .h264 column — resolution,
  * profile/level, NAL composition, keyframe count, payload sizes — lives
  * in the NAL framing (ISO/IEC 14496-10 Annex B, §7.3.1) and the SPS
  * syntax (§7.3.2.1.1), implemented here from the public spec.
  *
  * Decode contract:
  *   - start-code SCAN: leading non-stream bytes are skipped to the
  *     first 3- or 4-byte start code (`00 00 01` / `00 00 00 01`); both
  *     lengths are recognized mid-stream too
  *   - NAL walk: each start code opens a NAL (1-byte header:
  *     forbidden_zero_bit, nal_ref_idc, nal_unit_type) whose payload
  *     runs to the next start code or end of stream
  *   - EBSP → RBSP: emulation-prevention bytes (`00 00 03` → `00 00`)
  *     are removed from every payload — the walk counts RBSP bytes, and
  *     a planted `00 00 01` INSIDE a slice payload must not open a NAL
  *   - SPS parse: the first type-7 NAL is bit-parsed with an
  *     exp-Golomb reader — profile/level, frame_num / POC / ref-frame
  *     parameters, mb-grid dimensions, frame cropping — and the luma
  *     picture size is derived exactly as the spec does:
  *     width = (pic_width_in_mbs_minus1+1)·16 − CropUnitX·(left+right),
  *     height = (2−frame_mbs_only)·(pic_height_in_map_units_minus1+1)·16
  *     − CropUnitY·(top+bottom), CropUnitX=2 / CropUnitY=2·(2−fmo) for
  *     the 4:2:0 chroma formats
  *
  * The generator half ([[H264GenExpr]]) is an independent from-scratch
  * exp-Golomb bit WRITER + emulation-prevention escaper producing a
  * parametrized Annex-B stream (SPS + PPS + IDR + trailing slices with
  * zero-run payload patterns that force escaping); the gate's oracle
  * replays the expected parse in closed form from the seed, so a defect
  * in either half breaks the gate, and H264NalSpec additionally pins the
  * parser against a hand-assembled bit-literal SPS vector.
  *
  * Scale: one narrow codegen'd expression per row; bytes never leave
  * the task, nothing shuffles.
  */
object H264Nal {

  /** rbsp_trailing_bits: stop bit then zero-pad to a byte boundary. */
  private def trailing(w: Bits.Writer): Array[Byte] = {
    w.u(1, 1)
    w.align()
  }

  /** RBSP → EBSP: insert an emulation-prevention 0x03 whenever two
    * emitted zero bytes would be followed by 0x00..0x03 (spec §7.4.1.1). */
  private def escape(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val b = rbsp(i) & 0xff
      if (zeros >= 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** EBSP → RBSP: drop each 0x03 that follows two zero bytes. */
  private def unescape(ebsp: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(until - from)
    var zeros = 0
    var i = from
    while (i < until) {
      val b = ebsp(i) & 0xff
      if (b == 3 && zeros >= 2) zeros = 0 // emulation-prevention byte: skip
      else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  // ==== generator =========================================================

  /** Seed-parametrized construction — the closed forms the gate oracle
    * replays. All derived from public SPS syntax; crop uses the 4:2:0
    * crop units (CropUnitX=2, CropUnitY=2 for frame_mbs_only=1). */
  private def profileIdc(d: Long): Int = Array(66, 77, 100)((d % 3).toInt)
  private def levelIdc(d: Long): Int = Array(10, 20, 30, 40, 51)((d % 5).toInt)
  private def spsId(d: Long): Int = (d % 3).toInt
  private def widthMbs(d: Long): Int = (d % 120).toInt + 1
  private def heightUnits(d: Long): Int = (d % 68).toInt + 1
  private def log2MaxFrameNumM4(d: Long): Int = (d % 13).toInt
  private def pocType(d: Long): Int = if (d % 2 == 0) 0 else 2
  private def maxRefFrames(d: Long): Int = (d % 5).toInt
  private def cropRight(d: Long): Int = if (d % 2 == 0) (d % 8).toInt else 0
  private def cropBottom(d: Long): Int = if (d % 2 == 0) (d % 4).toInt else 0
  private def nSlices(d: Long): Int = (d % 6).toInt + 1
  private def sliceLen(d: Long, i: Int): Int = (d % 17).toInt + 8 + i

  private def buildSps(d: Long): Array[Byte] = {
    val w = new Bits.Writer
    w.u(profileIdc(d), 8)
    w.u(0, 8) // constraint_set flags + reserved_zero_2bits
    w.u(levelIdc(d), 8)
    w.ue(spsId(d))
    if (profileIdc(d) == 100) {
      w.ue(1) // chroma_format_idc: 4:2:0
      w.ue(0) // bit_depth_luma_minus8
      w.ue(0) // bit_depth_chroma_minus8
      w.u(0, 1) // qpprime_y_zero_transform_bypass_flag
      w.u(0, 1) // seq_scaling_matrix_present_flag
    }
    w.ue(log2MaxFrameNumM4(d))
    w.ue(pocType(d))
    if (pocType(d) == 0) w.ue((d % 11).toInt) // log2_max_pic_order_cnt_lsb_minus4
    w.ue(maxRefFrames(d))
    w.u(0, 1) // gaps_in_frame_num_value_allowed_flag
    w.ue(widthMbs(d) - 1)
    w.ue(heightUnits(d) - 1)
    w.u(1, 1) // frame_mbs_only_flag
    w.u(1, 1) // direct_8x8_inference_flag
    val crop = cropRight(d) > 0 || cropBottom(d) > 0
    w.u(if (crop) 1 else 0, 1)
    if (crop) { w.ue(0); w.ue(cropRight(d)); w.ue(0); w.ue(cropBottom(d)) }
    w.u(0, 1) // vui_parameters_present_flag
    trailing(w)
  }

  /** Zero-run pattern planted in every third slice payload — escaping
    * turns it into `00 00 03 01 00 00 03 00 00 03 02` on the wire, so a
    * parser that fails to de-escape sees a bogus start code and the NAL
    * counts break. */
  private val Planted = Array[Byte](0, 0, 1, 0, 0, 0, 0, 2)

  private def slicePayload(d: Long, i: Int): Array[Byte] = {
    val n = sliceLen(d, i)
    val b = new Array[Byte](n)
    var j = 0
    while (j < n) {
      b(j) = (((d * 31 + i * 7 + j * 3) % 255) + 1).toByte // never 0x00
      j += 1
    }
    if ((d + i) % 3 == 0) System.arraycopy(Planted, 0, b, 0, Planted.length)
    b
  }

  /** Deterministic Annex-B stream for a seed: junk prefix, 4-byte start
    * code on the SPS then 3-byte codes (both lengths exercised), SPS +
    * PPS + IDR + (n−1) non-IDR slices. */
  def generate(d: Long): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var j = 0
    while (j < (d % 4).toInt) { out.write(0xaa); j += 1 } // scan junk, never 0x00
    def nal(startLen: Int, header: Int, rbsp: Array[Byte]): Unit = {
      if (startLen == 4) out.write(0)
      out.write(0); out.write(0); out.write(1)
      out.write(header)
      val e = escape(rbsp)
      out.write(e, 0, e.length)
    }
    nal(4, 0x67, buildSps(d)) // SPS, nal_ref_idc=3
    nal(3, 0x68, Array[Byte](0xce.toByte, 0x38, 0x80.toByte)) // PPS
    var i = 0
    while (i < nSlices(d)) {
      nal(3, if (i == 0) 0x65 else 0x41, slicePayload(d, i)) // IDR then non-IDR
      i += 1
    }
    out.toByteArray
  }

  // ==== parser ============================================================

  final case class SpsInfo(profileIdc: Int, levelIdc: Int, spsId: Int,
      log2MaxFrameNum: Int, pocType: Int, maxRefFrames: Int,
      width: Int, height: Int, frameMbsOnly: Boolean,
      cropRightPx: Int, cropBottomPx: Int)

  final case class H264Meta(nalTotal: Int, spsCount: Int, ppsCount: Int,
      idrCount: Int, sliceCount: Int, sliceRbspBytes: Long, sps: Option[SpsInfo])

  private def parseSps(rbsp: Array[Byte]): Option[SpsInfo] = try {
    val r = new Bits.Reader(rbsp, 0)
    val profile = r.u(8)
    r.u(8) // constraint flags + reserved
    val level = r.u(8)
    val id = r.ue()
    var chromaIdc = 1
    if (profile == 100 || profile == 110 || profile == 122 || profile == 244 ||
      profile == 44 || profile == 83 || profile == 86 || profile == 118 ||
      profile == 128) {
      chromaIdc = r.ue()
      if (chromaIdc == 3) r.u(1) // separate_colour_plane_flag
      r.ue(); r.ue() // bit depths
      r.u(1) // qpprime_y_zero_transform_bypass_flag
      if (r.u(1) == 1) return None // scaling matrices: out of structural scope
    }
    val log2Mfn = r.ue() + 4
    val poc = r.ue()
    if (poc == 0) r.ue()
    else if (poc == 1) {
      r.u(1); r.ue(); r.ue()
      val n = r.ue()
      var i = 0
      while (i < n) { r.ue(); i += 1 }
    }
    val maxRef = r.ue()
    r.u(1) // gaps_in_frame_num_value_allowed_flag
    val wMbs = r.ue() + 1
    val hUnits = r.ue() + 1
    val fmo = r.u(1)
    if (fmo == 0) r.u(1) // mb_adaptive_frame_field_flag
    r.u(1) // direct_8x8_inference_flag
    var cl = 0; var cr = 0; var ct = 0; var cb = 0
    if (r.u(1) == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
    // 4:2:0 / 4:2:2 CropUnitX=2, 4:4:4 & monochrome =1 (§7.4.2.1.1)
    val cux = if (chromaIdc == 1 || chromaIdc == 2) 2 else 1
    val cuy = (if (chromaIdc == 1) 2 else 1) * (2 - fmo)
    Some(SpsInfo(profile, level, id, log2Mfn, poc, maxRef,
      width = wMbs * 16 - cux * (cl + cr),
      height = (2 - fmo) * hUnits * 16 - cuy * (ct + cb),
      frameMbsOnly = fmo == 1, cropRightPx = cux * cr, cropBottomPx = cuy * cb))
  } catch { case _: IllegalArgumentException => None }

  def parse(b: Array[Byte]): Option[H264Meta] = {
    if (b == null || b.length < 4) return None
    // collect start-code positions: (payload start, start-code start)
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + 3 <= b.length) {
      if (b(i) == 0 && b(i + 1) == 0 && b(i + 2) == 1) {
        bounds += i
        starts += i + 3
        i += 3
      } else i += 1
    }
    if (starts.isEmpty) return None
    var nal = 0; var sps = 0; var pps = 0; var idr = 0; var slice = 0
    var sliceRbsp = 0L
    var spsInfo: Option[SpsInfo] = None
    var k = 0
    while (k < starts.length) {
      val from = starts(k)
      val until = if (k + 1 < bounds.length) {
        // a 4-byte start code owns the 0x00 before `00 00 01`
        val nb = bounds(k + 1)
        if (nb > from && b(nb - 1) == 0) nb - 1 else nb
      } else b.length
      if (from < until) {
        val header = b(from) & 0xff
        if ((header & 0x80) == 0) { // forbidden_zero_bit must be 0
          nal += 1
          val tpe = header & 0x1f
          lazy val rbsp = unescape(b, from + 1, until)
          tpe match {
            case 7 =>
              sps += 1
              if (spsInfo.isEmpty) spsInfo = parseSps(rbsp)
            case 8 => pps += 1
            case 5 => idr += 1; sliceRbsp += rbsp.length
            case 1 => slice += 1; sliceRbsp += rbsp.length
            case _ => ()
          }
        }
      }
      k += 1
    }
    if (nal == 0) None
    else Some(H264Meta(nal, sps, pps, idr, slice, sliceRbsp, spsInfo))
  }

  def parseRow(bytes: Array[Byte]): InternalRow = parse(bytes) match {
    case Some(m) =>
      val s = m.sps
      InternalRow(m.nalTotal, m.spsCount, m.ppsCount, m.idrCount,
        m.sliceCount, m.sliceRbspBytes,
        s.map(x => Int.box(x.profileIdc)).orNull,
        s.map(x => Int.box(x.levelIdc)).orNull,
        s.map(x => Int.box(x.spsId)).orNull,
        s.map(x => Int.box(x.log2MaxFrameNum)).orNull,
        s.map(x => Int.box(x.pocType)).orNull,
        s.map(x => Int.box(x.maxRefFrames)).orNull,
        s.map(x => Int.box(x.width)).orNull,
        s.map(x => Int.box(x.height)).orNull,
        s.map(x => Boolean.box(x.frameMbsOnly)).orNull,
        s.map(x => Int.box(x.cropRightPx)).orNull,
        s.map(x => Int.box(x.cropBottomPx)).orNull)
    case None => null
  }

  // ==== expressions =======================================================

  /** `h264_gen(seed)`: deterministic Annex-B H.264 stream for the seed. */
  case class H264GenExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = BinaryType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType || child.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"h264_gen requires an integral seed, got ${child.dataType.catalogString}")
    private def seed(input: Any): Long = input match {
      case l: java.lang.Long => l.longValue()
      case i: java.lang.Integer => i.longValue()
    }
    override def nullSafeEval(input: Any): Any = H264Nal.generate(seed(input))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.pipeline.H264Nal.generate((long) $c);")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "h264_gen"
  }

  /** `h264_meta(binary)`: NAL-walk counts + first-SPS parse, null when no
    * start code is found. */
  case class H264MetaExpr(child: Expression) extends UnaryExpression {
    override def dataType: DataType = H264MetaExpr.schema
    override def nullable: Boolean = true
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"h264_meta requires binary input, got ${child.dataType.catalogString}")
    override def nullSafeEval(input: Any): Any =
      H264Nal.parseRow(input.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        s"""
           |${ev.value} = graft.pipeline.H264Nal.parseRow($c);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
    override def prettyName: String = "h264_meta"
  }

  object H264MetaExpr {
    val schema: StructType = StructType(Seq(
      StructField("nal_total", IntegerType),
      StructField("sps_count", IntegerType),
      StructField("pps_count", IntegerType),
      StructField("idr_count", IntegerType),
      StructField("slice_count", IntegerType),
      StructField("slice_rbsp_bytes", LongType),
      StructField("profile_idc", IntegerType, nullable = true),
      StructField("level_idc", IntegerType, nullable = true),
      StructField("sps_id", IntegerType, nullable = true),
      StructField("log2_max_frame_num", IntegerType, nullable = true),
      StructField("poc_type", IntegerType, nullable = true),
      StructField("max_ref_frames", IntegerType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("frame_mbs_only", BooleanType, nullable = true),
      StructField("crop_right_px", IntegerType, nullable = true),
      StructField("crop_bottom_px", IntegerType, nullable = true)))
  }
}
