package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.Bits

/** [[Bits]], the bit IO under every codec module: what a `Writer` writes a
  * `Reader` reads back, field by field, for fixed widths 0–32 and the
  * variable-length codes; and a reader over a sub-range stops at its end
  * even when the array goes on. No SparkSession. */
class BitsSpec extends AnyFunSuite {
  import BitsSpec._

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(300).withInitialSeed(7L), p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  private def low(v: Int, bits: Int): Int = if (bits == 32) v else v & ((1 << bits) - 1)

  test("u round-trips every width 0-32, and bitCount counts the written bits") {
    val field = for { w <- Gen.choose(0, 32); v <- Gen.choose(Int.MinValue, Int.MaxValue) } yield (w, v)
    check(forAll(Gen.listOf(field)) { fs =>
      val w = new Bits.Writer
      fs.foreach { case (bits, v) => w.u(v, bits) }
      val total = fs.map(_._1.toLong).sum
      val bytes = w.align()
      val r = new Bits.Reader(bytes, 0)
      w.bitCount == total && bytes.length == (total + 7) / 8 &&
        fs.forall { case (bits, v) => r.u(bits) == low(v, bits) }
    })
  }

  private val code: Gen[Code] = Gen.oneOf[Code](
    Gen.oneOf[Int](Gen.choose(0, 64), Gen.choose(0, 1 << 30)).map(Ue(_)),
    for { k <- Gen.choose(0, 14); v <- Gen.choose(-4096, 4096) } yield Rice(v, k),
    for { bits <- Gen.choose(1, 32); v <- Gen.choose(Int.MinValue, Int.MaxValue) }
      yield Signed(if (bits == 32) v else v >> (32 - bits), bits))

  test("ue, rice and signed round-trip in any interleaving") {
    check(forAll(Gen.listOf(code)) { cs =>
      val w = new Bits.Writer
      cs.foreach {
        case Ue(v) => w.ue(v)
        case Rice(v, k) => w.rice(v, k)
        case Signed(v, bits) => w.u(low(v, bits), bits)
      }
      val r = new Bits.Reader(w.align(), 0)
      cs.forall {
        case Ue(v) => r.ue() == v
        case Rice(v, k) => r.rice(k) == v
        case Signed(v, bits) => r.signed(bits) == v
      }
    })
  }

  test("a sub-range reader throws eof at untilBit, not at the array's end") {
    val bytes = Array.tabulate[Byte](8)(i => (0x11 * i).toByte)
    val r = new Bits.Reader(bytes, 8, 20)
    assert(r.u(8) === 0x11)
    assert(r.u(4) === 0x2)
    val e = intercept[IllegalArgumentException](r.u(1))
    assert(e.getMessage === "eof")

    check(forAll(Gen.choose(0, 64), Gen.choose(0, 64), Gen.listOf(Gen.choose(0, 32))) {
      (a, b, widths) =>
        val (from, until) = (math.min(a, b).toLong, math.max(a, b).toLong)
        val r = new Bits.Reader(bytes, from, until)
        widths.forall { bits =>
          if (r.pos + bits <= until) { r.u(bits); true }
          else try { r.u(bits); false } catch { case e: IllegalArgumentException => e.getMessage == "eof" }
        }
    })
  }
}

object BitsSpec {
  /** One variable-length field, as generated for the round trip. */
  sealed trait Code
  final case class Ue(v: Int) extends Code
  final case class Rice(v: Int, k: Int) extends Code
  final case class Signed(v: Int, bits: Int) extends Code
}
