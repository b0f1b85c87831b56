package graft.core

/** Minimal, allocation-conscious byte I/O used by every codec.
  *
  * Mirrors the role of the reference's fixed-layout chunk headers
  * (python-blosc2 `schunk.py` cframe layout) but with a simpler
  * varint-based framing — our chunks are self-describing.
  */
object Bytes {

  @inline def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)

  /** Growable little-endian byte writer. */
  final class Writer(initial: Int = 4096) {
    private var buf = new Array[Byte](math.max(initial, 16))
    private var len = 0

    @inline private def ensure(extra: Int): Unit = {
      if (len + extra > buf.length) {
        var cap = buf.length
        while (cap < len + extra) cap = cap << 1
        buf = java.util.Arrays.copyOf(buf, cap)
      }
    }

    def size: Int = len

    def putByte(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }

    def putBytes(src: Array[Byte]): Unit = putBytes(src, 0, src.length)

    def putBytes(src: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, off, buf, len, n); len += n
    }

    /** Unsigned LEB128 varint. */
    def putVarLong(v0: Long): Unit = {
      var v = v0
      ensure(10)
      while ((v & ~0x7fL) != 0) {
        buf(len) = ((v & 0x7f) | 0x80).toByte; len += 1; v >>>= 7
      }
      buf(len) = v.toByte; len += 1
    }

    def putVarInt(v: Int): Unit = putVarLong(v.toLong & 0xffffffffL)

    /** Zigzag-ed signed varint. */
    def putSVarLong(v: Long): Unit = putVarLong(zigzag(v))

    def putLongLE(v: Long): Unit = {
      ensure(8)
      var i = 0
      while (i < 8) { buf(len + i) = (v >>> (8 * i)).toByte; i += 1 }
      len += 8
    }

    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, len)

    /** The backing array (valid bytes are [0, size)). For zero-copy
      * hand-off into entropy coders / arraycopy — callers must not hold
      * the reference past the writer's next reuse.
      */
    def rawBuffer: Array[Byte] = buf

    /** Rewind for reuse, keeping the grown capacity (the encode hot
      * path reuses one writer per thread so 32 concurrent codec
      * threads stop paying alloc+zero for a chunk-sized buffer per
      * chunk).
      */
    def reset(): Unit = len = 0
  }

  /** Reader over a byte array (little-endian, varints). */
  final class Reader(val buf: Array[Byte], var pos: Int = 0) {
    def remaining: Int = buf.length - pos

    def getByte(): Int = { val b = buf(pos) & 0xff; pos += 1; b }

    def getBytes(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }

    /** A varint `putVarLong` wrote: at most 10 bytes, the 10th carrying
      * only bit 63. A longer one is corrupt input and throws (shifts
      * wrap mod 64, so its extra bits would land in the low bits).
      */
    def getVarLong(): Long = {
      var shift = 0; var out = 0L; var b = 0
      do {
        b = buf(pos) & 0xff; pos += 1
        out |= (b & 0x7fL) << shift
        shift += 7
      } while ((b & 0x80) != 0)
      if (shift > 70 || shift == 70 && b > 1)
        throw new IllegalArgumentException(s"varint before byte $pos overflows 64 bits")
      out
    }

    /** A varint `putVarInt` wrote: a value with a bit set above bit 31
      * is corrupt input and throws, never truncated.
      */
    def getVarInt(): Int = {
      val v = getVarLong()
      if ((v >>> 32) != 0L) throw new IllegalArgumentException(s"varint $v before byte $pos overflows 32 bits")
      v.toInt
    }

    def getSVarLong(): Long = unzigzag(getVarLong())

    def getLongLE(): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xffL) << (8 * i); i += 1 }
      pos += 8; v
    }
  }
}

/** Fixed-width bit packing of non-negative longs (the FOR / delta
  * residual store). Widths 0..64. Public-domain technique (Lemire
  * FastPFOR family); straightforward bit-cursor implementation.
  */
object BitPack {

  /** Bits needed to represent v (v >= 0); 0 for v == 0. */
  @inline def bitsFor(v: Long): Int =
    if (v == 0L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(v)

  def maxBits(values: Array[Long], from: Int, until: Int): Int = {
    var acc = 0L
    var i = from
    while (i < until) { acc |= values(i); i += 1 }
    bitsFor(acc)
  }

  /** Packs values(from until until) at `width` bits each, appended to w. */
  def pack(values: Array[Long], from: Int, until: Int, width: Int, w: Bytes.Writer): Unit = {
    if (width == 0) return
    if (width == 64) { var i = from; while (i < until) { w.putLongLE(values(i)); i += 1 }; return }
    var acc = 0L
    var accBits = 0
    var i = from
    val mask = if (width == 64) -1L else (1L << width) - 1
    while (i < until) {
      val v = values(i) & mask
      acc |= v << accBits
      accBits += width
      if (accBits >= 64) {
        w.putLongLE(acc)
        accBits -= 64
        acc = if (accBits == 0) 0L else v >>> (width - accBits)
      }
      i += 1
    }
    if (accBits > 0) {
      // flush remaining partial word, byte-aligned
      var bits = accBits
      var a = acc
      while (bits > 0) { w.putByte((a & 0xff).toInt); a >>>= 8; bits -= 8 }
    }
  }

  /** Unpacks n values of `width` bits from r into out(offset...). */
  def unpack(r: Bytes.Reader, n: Int, width: Int, out: Array[Long], offset: Int): Unit = {
    if (width == 0) { java.util.Arrays.fill(out, offset, offset + n, 0L); return }
    if (width == 64) { var i = 0; while (i < n) { out(offset + i) = r.getLongLE(); i += 1 }; return }
    val totalBits = n.toLong * width
    val fullWords = (totalBits / 64).toInt
    val tailBits = (totalBits - fullWords.toLong * 64).toInt
    val words = new Array[Long](fullWords + (if (tailBits > 0) 1 else 0) + 1)
    var i = 0
    while (i < fullWords) { words(i) = r.getLongLE(); i += 1 }
    if (tailBits > 0) {
      var v = 0L
      var j = 0
      val tailBytes = (tailBits + 7) / 8
      while (j < tailBytes) { v |= r.getByte().toLong << (8 * j); j += 1 }
      words(fullWords) = v
    }
    val mask = (1L << width) - 1
    var bitPos = 0L
    i = 0
    while (i < n) {
      val w0 = (bitPos >>> 6).toInt
      val off = (bitPos & 63L).toInt
      var v = words(w0) >>> off
      if (off + width > 64) v |= words(w0 + 1) << (64 - off)
      out(offset + i) = v & mask
      bitPos += width
      i += 1
    }
  }
}
