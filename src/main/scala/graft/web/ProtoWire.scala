package graft.web

import java.io.ByteArrayOutputStream

/** The protobuf wire format as the hand-written codecs use it (remote
  * write and read, OTLP, the scrape exposition): varint, fixed64 and
  * length-delimited fields over the handful of message shapes each codec
  * knows, no protobuf runtime. Unknown fields are skipped per proto rules.
  * One reader and one writer serve every codec. */
private[web] object ProtoWire {

  /** protobuf wire reader over a byte array slice */
  final class Reader(buf: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var res = 0L
      while (true) {
        val b = buf(pos); pos += 1
        res |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return res
        shift += 7
        if (shift > 63) throw new IllegalArgumentException("varint too long")
      }
      res
    }
    def fixed64(): Long = {
      var res = 0L
      var i = 0
      while (i < 8) { res |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8
      res
    }
    /** a length-delimited field's [start, end) in the buffer */
    def bytes(): (Int, Int) = {
      val len = varint().toInt
      val s = pos
      pos += len
      (s, pos)
    }
    /** a length-delimited field's bytes, copied */
    def byteArray(): Array[Byte] = { val (s, e) = bytes(); java.util.Arrays.copyOfRange(buf, s, e) }
    def str(): String = {
      val (s, e) = bytes()
      new String(buf, s, e - s, java.nio.charset.StandardCharsets.UTF_8)
    }
    def sub(): Reader = { val (s, e) = bytes(); new Reader(buf, s, e) }
    def skip(wireType: Int): Unit = wireType match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => val (_, _) = bytes()
      case 5 => pos += 4
      case wt => throw new IllegalArgumentException(s"unsupported wire type $wt")
    }
  }

  /** a decoded sint32/sint64 */
  def zigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  def vint(o: ByteArrayOutputStream, x0: Long): Unit = {
    var x = x0
    while ((x & ~0x7fL) != 0) { o.write(((x & 0x7f) | 0x80).toInt); x >>>= 7 }
    o.write(x.toInt)
  }

  /** a double's 8 little-endian bytes, untagged (a packed element) */
  def double(o: ByteArrayOutputStream, v: Double): Unit = {
    val bits = java.lang.Double.doubleToLongBits(v)
    (0 until 8).foreach(i => o.write(((bits >> (8 * i)) & 0xff).toInt))
  }

  /** a tagged double field */
  def f64(o: ByteArrayOutputStream, tag: Int, v: Double): Unit = {
    vint(o, (tag << 3) | 1); double(o, v)
  }

  /** a tagged length-delimited field */
  def delim(o: ByteArrayOutputStream, tag: Int, body: Array[Byte]): Unit = {
    vint(o, (tag << 3) | 2); vint(o, body.length); o.write(body)
  }

  /** a prompb series' labels, sorted by name, as repeated
    * Label{name=1, value=2} fields with tag 1 */
  def labelFields(o: ByteArrayOutputStream, labels: Map[String, String]): Unit =
    labels.toSeq.sortBy(_._1).foreach { case (n, v) =>
      delim(o, 1, message { lo => delim(lo, 1, n.getBytes("UTF-8")); delim(lo, 2, v.getBytes("UTF-8")) })
    }

  /** the bytes `f` writes: one nested message */
  def message(f: ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new ByteArrayOutputStream(); f(o); o.toByteArray
  }
}
