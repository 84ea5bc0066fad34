package graft

import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ProtoWire
import graft.sources.ProtoWire.{Reader, Writer}

/** The protobuf wire codec on its own: every [[Writer]] primitive reads back
  * through [[Reader]], every read stops at its slice's end, and the id hex
  * helpers round-trip.
  */
class ProtoWireSpec extends AnyFunSuite {

  // one generated field per Writer primitive; Nested recurses
  private sealed trait F { def field: Int }
  private case class VarintF(field: Int, v: Long) extends F
  private case class BoolF(field: Int, b: Boolean) extends F
  private case class Sint32F(field: Int, v: Int) extends F
  private case class Fixed64F(field: Int, v: Long) extends F
  private case class DoubleF(field: Int, d: Double) extends F
  private case class Fixed32F(field: Int, v: Int) extends F
  private case class BytesF(field: Int, b: Seq[Byte]) extends F
  private case class StringF(field: Int, s: String) extends F
  private case class PackedFixed64F(field: Int, vs: Seq[Long]) extends F
  private case class PackedDoubleF(field: Int, vs: Seq[Double]) extends F
  private case class PackedVarintF(field: Int, vs: Seq[Long]) extends F
  private case class NestedF(field: Int, fs: List[F]) extends F

  private def write(w: Writer, f: F): Unit = f match {
    case VarintF(n, v) => w.varintField(n, v)
    case BoolF(n, b) => w.boolField(n, b)
    case Sint32F(n, v) => w.sint32Field(n, v)
    case Fixed64F(n, v) => w.fixed64Field(n, v)
    case DoubleF(n, d) => w.doubleField(n, d)
    case Fixed32F(n, v) => w.fixed32Field(n, v)
    case BytesF(n, b) => w.bytesField(n, b.toArray)
    case StringF(n, s) => w.stringField(n, s)
    case PackedFixed64F(n, vs) => w.packedFixed64Field(n, vs)
    case PackedDoubleF(n, vs) => w.packedDoubleField(n, vs)
    case PackedVarintF(n, vs) => w.packedVarintField(n, vs)
    case NestedF(n, fs) => w.msgField(n, encode(fs))
  }

  private def encode(fs: List[F]): Writer = {
    val w = new Writer(8)
    fs.foreach(write(w, _))
    w
  }

  private def wireOf(f: F): Int = f match {
    case _: VarintF | _: BoolF | _: Sint32F => 0
    case _: Fixed64F | _: DoubleF => 1
    case _: Fixed32F => 5
    case _ => 2
  }

  private def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  /** Read `fs` back in order from `r`, which must then be exhausted. */
  private def readsBack(r: Reader, fs: List[F]): Boolean = {
    val ok = fs.forall { f =>
      val tag = r.readVarint()
      val wire = (tag & 7).toInt
      (tag >> 3).toInt == f.field && wire == wireOf(f) && (f match {
        case VarintF(_, v) => r.readVarint() == v
        case BoolF(_, b) => (r.readVarint() != 0L) == b
        case Sint32F(_, v) => r.readSint32() == v
        case Fixed64F(_, v) => r.readFixed64() == v
        case DoubleF(_, d) => bits(r.readDouble()) == bits(d)
        case Fixed32F(_, v) => r.readFixed32() == v
        case BytesF(_, b) => r.readBytes().toSeq == b
        case StringF(_, s) => r.readString() == s
        case PackedFixed64F(_, vs) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Long]
          r.readRepeatedFixed64(wire, out)
          out.toSeq == vs
        case PackedDoubleF(_, vs) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Long]
          r.readRepeatedFixed64(wire, out)
          out.toSeq == vs.map(java.lang.Double.doubleToLongBits)
        case PackedVarintF(_, vs) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[Long]
          r.readRepeatedVarint(wire, out)
          out.toSeq == vs
        case NestedF(_, inner) => readsBack(r.readSlice(), inner)
      })
    }
    ok && !r.hasMore
  }

  private val fieldNum = Gen.oneOf(Gen.chooseNum(1, 15), Gen.chooseNum(16, (1 << 29) - 1))
  private val anyLong = Gen.oneOf(Arbitrary.arbitrary[Long],
    Gen.oneOf(0L, -1L, Long.MinValue, Long.MaxValue, 127L, 128L, -128L))
  private val anyInt = Gen.oneOf(Arbitrary.arbitrary[Int],
    Gen.oneOf(0, -1, 1, Int.MinValue, Int.MaxValue, Int.MinValue + 1))
  private val anyDouble = Gen.oneOf(Arbitrary.arbitrary[Double],
    Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, Double.MaxValue))
  // valid code points only (no lone surrogates), non-BMP ones often
  private val codePoint = Gen.frequency(
    3 -> Gen.chooseNum(0x20, 0x7e),
    2 -> Gen.chooseNum(0x80, 0xd7ff),
    2 -> Gen.chooseNum(0x10000, 0x10ffff))
  private val text = Gen.listOf(codePoint).map(cps =>
    cps.map(cp => new String(Character.toChars(cp))).mkString)

  private def genField(depth: Int): Gen[F] = {
    val leaf = Gen.oneOf(
      for { n <- fieldNum; v <- anyLong } yield VarintF(n, v),
      for { n <- fieldNum; b <- Arbitrary.arbitrary[Boolean] } yield BoolF(n, b),
      for { n <- fieldNum; v <- anyInt } yield Sint32F(n, v),
      for { n <- fieldNum; v <- anyLong } yield Fixed64F(n, v),
      for { n <- fieldNum; d <- anyDouble } yield DoubleF(n, d),
      for { n <- fieldNum; v <- anyInt } yield Fixed32F(n, v),
      for { n <- fieldNum; b <- Gen.listOf(Arbitrary.arbitrary[Byte]) } yield BytesF(n, b),
      for { n <- fieldNum; s <- text } yield StringF(n, s),
      for { n <- fieldNum; vs <- Gen.listOf(anyLong) } yield PackedFixed64F(n, vs),
      for { n <- fieldNum; vs <- Gen.listOf(anyDouble) } yield PackedDoubleF(n, vs),
      for { n <- fieldNum; vs <- Gen.listOf(anyLong) } yield PackedVarintF(n, vs))
    if (depth == 0) leaf
    else Gen.frequency(4 -> leaf, 1 -> (for {
      n <- fieldNum
      fs <- Gen.resize(6, Gen.listOf(genField(depth - 1)))
    } yield NestedF(n, fs)))
  }

  private def check(prop: Prop): Unit = {
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(result.passed, result.status.toString)
  }

  test("every Writer primitive reads back through Reader") {
    check(Prop.forAll(Gen.listOf(genField(3))) { fs =>
      val bytes = encode(fs).toBytes
      readsBack(new Reader(bytes, 0, bytes.length), fs)
    })
  }

  test("skip steps over every wire type to exactly the message end") {
    check(Prop.forAll(Gen.listOf(genField(2))) { fs =>
      val bytes = encode(fs).toBytes
      val r = new Reader(bytes, 0, bytes.length)
      var n = 0
      while (r.hasMore) { r.skip((r.readVarint() & 7).toInt); n += 1 }
      n == fs.length && r.pos == bytes.length
    })
  }

  test("negative int64 varints take 10 bytes; sint32 extremes zigzag") {
    val w = new Writer(4)
    w.varint(-1L)
    assert(w.size == 10)
    val z = new Writer(4)
    z.sint32Field(1, Int.MinValue)
    // tag byte + 5-byte varint of 0xffffffff
    assert(z.toBytes.toSeq == Seq[Byte](8, -1, -1, -1, -1, 15))
    assert(new Reader(z.toBytes, 1, 6).readSint32() == Int.MinValue)
  }

  // ---- every read stops at the slice end -------------------------------------

  private val lenOver4G: Array[Byte] = {
    val w = new Writer(8)
    w.varint((1L << 32) + 3) // narrows to 3 as an Int
    w.toBytes ++ "abcdef".getBytes("UTF-8")
  }

  test("a varint cut off at the slice end does not read the bytes after it") {
    val buf = Array[Byte](0x80.toByte, 0x01)
    assert(new Reader(buf, 0, 2).readVarint() == 128L)
    intercept[IllegalArgumentException](new Reader(buf, 0, 1).readVarint())
  }

  test("fixed64 / fixed32 / double cut off at the slice end throw") {
    val buf = Array.fill[Byte](16)(1)
    intercept[IllegalArgumentException](new Reader(buf, 0, 7).readFixed64())
    intercept[IllegalArgumentException](new Reader(buf, 0, 7).readDouble())
    intercept[IllegalArgumentException](new Reader(buf, 0, 3).readFixed32())
  }

  test("skip never moves past the slice end") {
    val buf = Array.fill[Byte](16)(1)
    intercept[IllegalArgumentException](new Reader(buf, 0, 7).skip(1))
    intercept[IllegalArgumentException](new Reader(buf, 0, 3).skip(5))
    val lenTooLong = Array[Byte](5, 1, 1, 1, 1, 1, 1, 1)
    intercept[IllegalArgumentException](new Reader(lenTooLong, 0, 4).skip(2))
    intercept[IllegalArgumentException](new Reader(buf, 0, 16).skip(3))
  }

  test("a length above 2^32 is not narrowed into range") {
    val end = lenOver4G.length
    intercept[IllegalArgumentException](new Reader(lenOver4G, 0, end).readString())
    intercept[IllegalArgumentException](new Reader(lenOver4G, 0, end).readBytes())
    intercept[IllegalArgumentException](new Reader(lenOver4G, 0, end).readSlice())
    intercept[IllegalArgumentException](new Reader(lenOver4G, 0, end).skip(2))
  }

  // ---- ids -------------------------------------------------------------------

  test("hex -> bytes -> hex round-trips; an all-zero id is empty") {
    check(Prop.forAll(Gen.listOf(Arbitrary.arbitrary[Byte])) { bs =>
      val b = bs.toArray
      val h = ProtoWire.hex(b)
      h == b.map(x => f"${x & 0xff}%02x").mkString &&
        ProtoWire.hexToBytes(h).sameElements(b) &&
        ProtoWire.hex(ProtoWire.hexToBytes(h.toUpperCase)) == h &&
        ProtoWire.idHex(b) == (if (b.forall(_ == 0)) "" else h)
    })
    assert(ProtoWire.idHex(new Array[Byte](16)) == "")
    assert(ProtoWire.idHex(Array.emptyByteArray) == "")
    assert(ProtoWire.idHex(Array[Byte](0, 0, 0, 1)) == "00000001")
  }
}
