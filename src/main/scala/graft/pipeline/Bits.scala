package graft.pipeline

/** MSB-first bit IO shared by the codec modules ([[AacLc]], [[FlacPcm]],
  * [[H264Nal]], [[Mp3L3]], [[Vp9Ivf]]): fixed-width fields plus the few
  * variable-length codes more than one bitstream syntax uses (two's
  * complement `signed`, `unary`, exp-Golomb `ue`, zigzag `rice`). */
object Bits {

  /** Reads bits `[fromBit, untilBit)` of `bytes`; any read past
    * `untilBit` throws `IllegalArgumentException("eof")`, so a reader
    * over a sub-range (one frame of a container) cannot run into the
    * next one. `pos` is the next bit to read and may be moved (e.g. to
    * a byte boundary). */
  final class Reader(bytes: Array[Byte], fromBit: Long, untilBit: Long) {
    def this(bytes: Array[Byte], fromBit: Long) = this(bytes, fromBit, bytes.length.toLong * 8)

    var pos: Long = fromBit

    def u(bits: Int): Int = {
      var v = 0
      var i = 0
      while (i < bits) {
        if (pos >= untilBit) throw new IllegalArgumentException("eof")
        v = (v << 1) | ((bytes((pos >> 3).toInt) >> (7 - (pos & 7).toInt)) & 1)
        pos += 1
        i += 1
      }
      v
    }

    /** Two's-complement field of `bits` (0–32) bits; 0 bits reads 0. */
    def signed(bits: Int): Int =
      if (bits == 0) 0 else (u(bits) << (32 - bits)) >> (32 - bits)

    /** Count zeros until the terminating 1 (Rice quotient / unary). */
    def unary(): Int = {
      var q = 0
      while (u(1) == 0) {
        q += 1
        if (q > (1 << 20)) throw new IllegalArgumentException("runaway unary")
      }
      q
    }

    /** Unsigned exp-Golomb (H.264 §9.1). */
    def ue(): Int = {
      var zeros = 0
      while (u(1) == 0) {
        zeros += 1
        if (zeros > 31) throw new IllegalArgumentException("ue overflow")
      }
      if (zeros == 0) 0 else ((1 << zeros) | u(zeros)) - 1
    }

    /** Zigzag Rice code at parameter `k` (FLAC residual coding): the
      * inverse of [[Writer.rice]]. */
    def rice(k: Int): Int = {
      val z = (unary() << k) | u(k)
      (z >>> 1) ^ -(z & 1)
    }
  }

  final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    private var cur = 0
    private var nBits = 0
    /** Bits written so far, padding excluded. */
    var bitCount: Long = 0

    def u(v: Int, bits: Int): Unit = {
      var i = bits - 1
      while (i >= 0) {
        cur = (cur << 1) | ((v >> i) & 1)
        nBits += 1
        bitCount += 1
        if (nBits == 8) { out.write(cur); cur = 0; nBits = 0 }
        i -= 1
      }
    }

    /** Unsigned exp-Golomb: floor(log2(v+1)) zeros, a 1, then v+1−2^k in
      * k bits. */
    def ue(v: Int): Unit = {
      val x = v + 1
      var k = 31 - Integer.numberOfLeadingZeros(x) // floor(log2(x))
      u(0, k)
      u(1, 1)
      while (k > 0) { k -= 1; u((x >> k) & 1, 1) }
    }

    /** Rice-code one residual at parameter k: zigzag, quotient in
      * unary (q zeros then a 1), k low remainder bits. */
    def rice(r: Int, k: Int): Unit = {
      val z = if (r < 0) (-r << 1) - 1 else r << 1
      var q = z >>> k
      while (q > 0) { u(0, 1); q -= 1 }
      u(1, 1)
      if (k > 0) u(z & ((1 << k) - 1), k)
    }

    /** Zero-pad to a byte boundary and return the bytes. */
    def align(): Array[Byte] = {
      if (nBits != 0) { cur <<= (8 - nBits); out.write(cur); cur = 0; nBits = 0 }
      out.toByteArray
    }
  }
}
