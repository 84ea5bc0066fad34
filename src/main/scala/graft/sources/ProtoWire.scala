package graft.sources

/** The protobuf wire format (public encoding spec): the one [[Reader]] and
  * [[Writer]] every protobuf codec in this package goes through — OTLP logs /
  * traces / metrics ([[OtlpProto]], [[OtlpProtoEncode]]), jaeger
  * `model.proto` ([[Jaeger]]), zipkin v2 `ListOfSpans` ([[Zipkin]]) and the
  * firehose `otlp_v1` length framing ([[FirehoseMetrics]]) — plus the id
  * hex helpers and proto3's null-is-default rule those codecs share.
  */
object ProtoWire {

  // ---- reader --------------------------------------------------------------

  /** Cursor over `buf(pos until end)`. Every read is checked against `end`:
    * a field cut off at a nested message's end, or a length that does not
    * fit the slice, throws `IllegalArgumentException` instead of reading the
    * enclosing message's bytes (callers drop the payload on that path).
    */
  final class Reader(val buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end

    private def need(n: Long, what: String): Unit =
      if (n < 0L || n > end - pos) throw new IllegalArgumentException(s"truncated $what")

    def readVarint(): Long = {
      var shift = 0
      var res = 0L
      while (shift < 70) {
        need(1, "varint")
        val b = buf(pos)
        pos += 1
        res |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return res
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint")
    }

    /** sint32 (zigzag) — ExponentialHistogram scale/offset. */
    def readSint32(): Int = {
      val n = readVarint()
      ((n >>> 1) ^ -(n & 1)).toInt
    }

    def readFixed64(): Long = {
      need(8, "fixed64")
      var res = 0L
      var i = 0
      while (i < 8) { res |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      res
    }

    def readDouble(): Double = java.lang.Double.longBitsToDouble(readFixed64())

    def readFixed32(): Int = {
      need(4, "fixed32")
      var res = 0
      var i = 0
      while (i < 4) { res |= (buf(pos + i) & 0xff) << (8 * i); i += 1 }
      pos += 4
      res
    }

    /** Length prefix of a wire-2 field, checked as a Long before narrowing. */
    private def readLength(what: String): Int = {
      val len = readVarint()
      need(len, what)
      len.toInt
    }

    /** Length-delimited payload -> a sub-reader over the slice. */
    def readSlice(): Reader = {
      val len = readLength("length-delimited field")
      val r = new Reader(buf, pos, pos + len)
      pos += len
      r
    }

    def readString(): String = {
      val len = readLength("string field")
      val s = new String(buf, pos, len, java.nio.charset.StandardCharsets.UTF_8)
      pos += len
      s
    }

    def readBytes(): Array[Byte] = {
      val len = readLength("bytes field")
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      out
    }

    /** Packed-or-not repeated fixed64 field: wire 2 = packed slice, wire 1 =
      * a single element (pre-proto3 / forward-compat encodings).
      */
    def readRepeatedFixed64(wire: Int,
        out: scala.collection.mutable.ArrayBuffer[Long]): Unit =
      if (wire == 2) { val s = readSlice(); while (s.hasMore) out += s.readFixed64() }
      else out += readFixed64()

    /** Packed-or-not repeated varint field (wire 2 packed, wire 0 single). */
    def readRepeatedVarint(wire: Int,
        out: scala.collection.mutable.ArrayBuffer[Long]): Unit =
      if (wire == 2) { val s = readSlice(); while (s.hasMore) out += s.readVarint() }
      else out += readVarint()

    /** Skip one field's value by wire type (unknown fields: forward compat). */
    def skip(wire: Int): Unit = wire match {
      case 0 => readVarint()
      case 1 => need(8, "fixed64"); pos += 8
      case 2 => val len = readLength("length-delimited field"); pos += len
      case 5 => need(4, "fixed32"); pos += 4
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  // ---- writer --------------------------------------------------------------

  /** Growable little buffer with the protobuf primitives. Nested messages
    * are encoded into their own writer and spliced length-prefixed — the
    * payloads here are bounded by the producer's max-message-bytes, so the
    * extra copy is cheap and keeps the code single-pass per level.
    */
  final class Writer(initial: Int = 256) {
    private var buf = new Array[Byte](initial)
    private var len = 0
    def size: Int = len
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        var cap = buf.length * 2
        while (cap < len + n) cap *= 2
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    def varint(v: Long): Unit = {
      ensure(10)
      var x = v
      while ((x & ~0x7fL) != 0L) {
        buf(len) = ((x & 0x7f) | 0x80).toByte; len += 1; x >>>= 7
      }
      buf(len) = x.toByte; len += 1
    }
    private def tag(field: Int, wire: Int): Unit = varint((field.toLong << 3) | wire)
    def varintField(field: Int, v: Long): Unit = { tag(field, 0); varint(v) }
    def boolField(field: Int, b: Boolean): Unit = varintField(field, if (b) 1L else 0L)
    /** sint32 (zigzag) — ExponentialHistogram scale/offset. */
    def sint32Field(field: Int, v: Int): Unit =
      varintField(field, ((v.toLong << 1) ^ (v.toLong >> 31)) & 0xffffffffL)
    def fixed64(v: Long): Unit = {
      ensure(8)
      var i = 0
      while (i < 8) { buf(len + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
      len += 8
    }
    def fixed64Field(field: Int, v: Long): Unit = { tag(field, 1); fixed64(v) }
    def doubleField(field: Int, d: Double): Unit =
      fixed64Field(field, java.lang.Double.doubleToLongBits(d))
    def fixed32Field(field: Int, v: Int): Unit = {
      tag(field, 5)
      ensure(4)
      var i = 0
      while (i < 4) { buf(len + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
      len += 4
    }
    def bytesField(field: Int, b: Array[Byte]): Unit = {
      tag(field, 2); varint(b.length.toLong)
      ensure(b.length)
      System.arraycopy(b, 0, buf, len, b.length)
      len += b.length
    }
    def stringField(field: Int, s: String): Unit =
      bytesField(field, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def msgField(field: Int, w: Writer): Unit = {
      tag(field, 2); varint(w.len.toLong)
      ensure(w.len)
      System.arraycopy(w.buf, 0, buf, len, w.len)
      len += w.len
    }
    /** Packed repeated fixed64 (bucket_counts / explicit_bounds). */
    def packedFixed64Field(field: Int, vs: Seq[Long]): Unit = {
      tag(field, 2); varint(vs.length * 8L)
      vs.foreach(fixed64)
    }
    def packedDoubleField(field: Int, vs: Seq[Double]): Unit =
      packedFixed64Field(field, vs.map(java.lang.Double.doubleToLongBits))
    def packedVarintField(field: Int, vs: Seq[Long]): Unit = {
      val p = new Writer(vs.length * 2 + 8)
      vs.foreach(p.varint)
      msgField(field, p)
    }
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  // ---- ids -----------------------------------------------------------------

  private val hexDigits = "0123456789abcdef".toCharArray

  /** Lowercase hex of every byte. */
  def hex(b: Array[Byte]): String = {
    val out = new Array[Char](2 * b.length)
    var i = 0
    while (i < b.length) {
      out(2 * i) = hexDigits((b(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Trace / span id bytes -> hex; an all-zero (or empty) id is ""
    * (`utils.TraceIDToHexOrEmptyString` / `SpanIDToHexOrEmptyString` parity).
    */
  def idHex(b: Array[Byte]): String = if (b.forall(_ == 0)) "" else hex(b)

  /** Hex pairs -> bytes (an odd trailing digit is ignored). */
  def hexToBytes(hex: String): Array[Byte] = {
    val out = new Array[Byte](hex.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = java.lang.Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16).toByte
      i += 1
    }
    out
  }

  // ---- proto3 defaults -----------------------------------------------------

  /** A null frame value encodes as proto3's default (empty) value. */
  def orEmpty(s: String): String = if (s == null) "" else s
  def nonNull[K, V](m: Map[K, V]): Map[K, V] = if (m == null) Map.empty else m
  def nonNullSeq[T](s: Seq[T]): Seq[T] = if (s == null) Nil else s
}
