package graft.codecs

import graft.core.{BitPack, Bytes}

/** Lightweight codecs for 64-bit integer column chunks: PLAIN, CONST
  * (special-value chunk, cf. python-blosc2 `__init__.py:176-185`), RLE,
  * frame-of-reference bit-pack, and delta+zigzag bit-pack.
  *
  * Null positions are normalized to 0 before encoding (the validity
  * bitmap is stored separately by ChunkCodec), keeping encode a pure
  * function of the logical values.
  */
object LongKernels {

  /** Copy with nulls zeroed so the encoded bytes are deterministic. */
  private def normalized(v: LongVec): Array[Long] = {
    if (v.validity == null) return v.values
    val out = v.values.clone()
    var i = 0
    while (i < out.length) { if (!v.validity(i)) out(i) = 0L; i += 1 }
    out
  }

  def encode(method: Byte, vec: LongVec, w: Bytes.Writer): Unit = {
    val vs = normalized(vec)
    val n = vs.length
    method match {
      case Method.PLAIN =>
        var i = 0
        while (i < n) { w.putLongLE(vs(i)); i += 1 }

      case Method.CONST =>
        if (n > 0) w.putSVarLong(vs(0))

      case Method.RLE =>
        var i = 0
        while (i < n) {
          val v = vs(i)
          var j = i + 1
          while (j < n && vs(j) == v) j += 1
          w.putSVarLong(v)
          w.putVarLong(j - i)
          i = j
        }

      case Method.FOR_PACK =>
        if (n > 0) {
          var mn = vs(0); var mx = vs(0)
          var i = 1
          while (i < n) { val v = vs(i); if (v < mn) mn = v; if (v > mx) mx = v; i += 1 }
          // guard against (mx - mn) overflow → fall back to width 64, ref 0
          val overflow = java.lang.Long.compareUnsigned(mx - mn, -1L) == 0 ||
            (mx > 0 && mn < 0 && mx - mn < 0)
          val ref = if (overflow) 0L else mn
          val shifted = new Array[Long](n)
          i = 0
          while (i < n) { shifted(i) = vs(i) - ref; i += 1 }
          val width = if (overflow) 64 else BitPack.maxBits(shifted, 0, n)
          w.putSVarLong(ref)
          w.putByte(width)
          BitPack.pack(shifted, 0, n, width, w)
        }

      case Method.DELTA_PACK =>
        if (n > 0) {
          val deltas = new Array[Long](n)
          deltas(0) = 0L
          var overflow = false
          var i = 1
          while (i < n) {
            val d = vs(i) - vs(i - 1)
            // detect signed overflow of the difference
            if (((vs(i) ^ vs(i - 1)) & (vs(i) ^ d)) < 0) overflow = true
            deltas(i) = Bytes.zigzag(d)
            i += 1
          }
          if (overflow) {
            // rare adversarial case: store plain under a flag
            w.putByte(0)
            i = 0
            while (i < n) { w.putLongLE(vs(i)); i += 1 }
          } else {
            w.putByte(1)
            w.putSVarLong(vs(0))
            val width = BitPack.maxBits(deltas, 1, n)
            w.putByte(width)
            BitPack.pack(deltas, 1, n, width, w)
          }
        }

      case m => throw new IllegalArgumentException(s"long method $m")
    }
  }

  def decode(method: Byte, r: Bytes.Reader, n: Int, validity: Array[Boolean]): Array[Long] = {
    val out = new Array[Long](n)
    method match {
      case Method.PLAIN =>
        var i = 0
        while (i < n) { out(i) = r.getLongLE(); i += 1 }

      case Method.CONST =>
        if (n > 0) java.util.Arrays.fill(out, r.getSVarLong())

      case Method.RLE =>
        var i = 0
        while (i < n) {
          val v = r.getSVarLong()
          val run = r.getVarInt()
          java.util.Arrays.fill(out, i, i + run, v)
          i += run
        }

      case Method.FOR_PACK =>
        if (n > 0) {
          val ref = r.getSVarLong()
          val width = r.getByte()
          BitPack.unpack(r, n, width, out, 0)
          var i = 0
          while (i < n) { out(i) += ref; i += 1 }
        }

      case Method.DELTA_PACK =>
        if (n > 0) {
          val flag = r.getByte()
          if (flag == 0) {
            var i = 0
            while (i < n) { out(i) = r.getLongLE(); i += 1 }
          } else {
            out(0) = r.getSVarLong()
            val width = r.getByte()
            val deltas = new Array[Long](n)
            BitPack.unpack(r, n - 1, width, deltas, 1)
            var i = 1
            while (i < n) { out(i) = out(i - 1) + Bytes.unzigzag(deltas(i)); i += 1 }
          }
        }

      case m => throw new IllegalArgumentException(s"long method $m")
    }
    // re-zero null slots (they were encoded as 0 anyway; keep invariant)
    if (validity != null) { var i = 0; while (i < n) { if (!validity(i)) out(i) = 0L; i += 1 } }
    out
  }
}

/** Codecs for float64 chunks: PLAIN, CONST, SHUFFLE — the byte
  * transpose that is blosc2's signature filter (python-blosc2
  * `__init__.py:141` Filter.SHUFFLE): groups equal byte positions so the
  * entropy stage sees long runs of exponent/sign bytes — and ALP.
  *
  * ALP (after the published Adaptive Lossless floating-Point scheme,
  * Afroozeh et al., SIGMOD '24 — independently implemented here from
  * the paper's idea only): most real-world doubles are decimals, so
  * `round(d * 10^e)` is a small long whose division by `10^e` restores
  * d BIT-exactly. The chunk picks one exponent from a sample; values
  * that don't survive the round-trip check (NaN/Inf/-0.0/true
  * floating-point noise) are stored as raw-bits exceptions and a
  * filler enc keeps the bit-packed width tight. Price-like columns
  * (2 decimals, bounded range) drop from ~4 B/value under
  * SHUFFLE+zstd to ~2-3 BITS/value under ALP+FOR.
  */
object DoubleKernels {

  /** 10^0 .. 10^14 — beyond 14 digits the long→double mantissa check
    * fails anyway for most inputs.
    */
  private val P10: Array[Double] = Array.iterate(1.0, 15)(_ * 10.0)
  val ALP_MAX_E: Int = P10.length - 1

  /** enc for (d, e) if the round trip is bit-exact, else Long.MinValue
    * (sentinel — Long.MinValue itself can never round-trip: 2^63 has no
    * exact double of magnitude < 2^53 * 10^-e... and its rawbits check
    * fails the equality below regardless).
    */
  @inline private def alpEnc(d: Double, e: Int): Long = {
    val scaled = d * P10(e)
    // Math.round saturates at Long extremes; the check below rejects those
    val enc = Math.round(scaled)
    if (java.lang.Double.doubleToRawLongBits(enc.toDouble / P10(e)) ==
      java.lang.Double.doubleToRawLongBits(d)) enc
    else Long.MinValue
  }

  /** Pick the chunk exponent on a strided sample: the first e (smallest
    * magnitudes) with zero sample exceptions, else the e with the
    * fewest. Deterministic in the values.
    */
  def alpChooseExponent(vs: Array[Double]): Int = {
    val n = vs.length
    if (n == 0) return 0
    val step = math.max(1, n / 128)
    var bestE = 0
    var bestExc = Int.MaxValue
    var e = 0
    while (e <= ALP_MAX_E) {
      var exc = 0
      var i = 0
      while (i < n) {
        if (alpEnc(vs(i), e) == Long.MinValue) exc += 1
        i += step
      }
      if (exc == 0) return e
      if (exc < bestExc) { bestExc = exc; bestE = e }
      e += 1
    }
    bestE
  }

  private def normalized(v: DoubleVec): Array[Double] = {
    if (v.validity == null) return v.values
    val out = v.values.clone()
    var i = 0
    while (i < out.length) { if (!v.validity(i)) out(i) = 0.0; i += 1 }
    out
  }

  def encode(method: Byte, vec: DoubleVec, w: Bytes.Writer): Unit = {
    val vs = normalized(vec)
    val n = vs.length
    method match {
      case Method.PLAIN =>
        var i = 0
        while (i < n) { w.putLongLE(java.lang.Double.doubleToRawLongBits(vs(i))); i += 1 }
      case Method.CONST =>
        if (n > 0) w.putLongLE(java.lang.Double.doubleToRawLongBits(vs(0)))
      case Method.SHUFFLE =>
        // byte-plane transpose: all byte-0s, then all byte-1s, ...
        var b = 0
        while (b < 8) {
          var i = 0
          while (i < n) {
            w.putByte(((java.lang.Double.doubleToRawLongBits(vs(i)) >>> (8 * b)) & 0xff).toInt)
            i += 1
          }
          b += 1
        }

      case Method.ALP =>
        val e = alpChooseExponent(vs)
        val encs = new Array[Long](n)
        var nExc = 0
        var filler = 0L
        var fillerSet = false
        var i = 0
        while (i < n) {
          val enc = alpEnc(vs(i), e)
          if (enc == Long.MinValue) nExc += 1
          else if (!fillerSet) { filler = enc; fillerSet = true }
          encs(i) = enc
          i += 1
        }
        w.putByte(e)
        w.putVarInt(nExc)
        // exceptions: delta-coded positions + raw IEEE bits; their slot
        // in the packed stream gets the filler so bit width stays tight
        var prev = 0
        i = 0
        while (i < n) {
          if (encs(i) == Long.MinValue) {
            w.putVarInt(i - prev)
            w.putLongLE(java.lang.Double.doubleToRawLongBits(vs(i)))
            prev = i
            encs(i) = filler
          }
          i += 1
        }
        LongKernels.encode(Method.FOR_PACK, LongVec(encs), w)

      case m => throw new IllegalArgumentException(s"double method $m")
    }
  }

  def decode(method: Byte, r: Bytes.Reader, n: Int, validity: Array[Boolean]): Array[Double] = {
    val out = new Array[Double](n)
    method match {
      case Method.PLAIN =>
        var i = 0
        while (i < n) { out(i) = java.lang.Double.longBitsToDouble(r.getLongLE()); i += 1 }
      case Method.CONST =>
        if (n > 0) java.util.Arrays.fill(out, java.lang.Double.longBitsToDouble(r.getLongLE()))
      case Method.SHUFFLE =>
        val bits = new Array[Long](n)
        var b = 0
        while (b < 8) {
          var i = 0
          while (i < n) { bits(i) |= (r.getByte().toLong & 0xff) << (8 * b); i += 1 }
          b += 1
        }
        var i = 0
        while (i < n) { out(i) = java.lang.Double.longBitsToDouble(bits(i)); i += 1 }

      case Method.ALP =>
        val e = r.getByte()
        val nExc = r.getVarInt()
        val excPos = new Array[Int](nExc)
        val excBits = new Array[Long](nExc)
        var prev = 0
        var k = 0
        while (k < nExc) {
          prev += r.getVarInt()
          excPos(k) = prev
          excBits(k) = r.getLongLE()
          k += 1
        }
        val encs = LongKernels.decode(Method.FOR_PACK, r, n, null)
        val p10 = P10(e)
        var i = 0
        while (i < n) { out(i) = encs(i).toDouble / p10; i += 1 }
        k = 0
        while (k < nExc) {
          out(excPos(k)) = java.lang.Double.longBitsToDouble(excBits(k))
          k += 1
        }

      case m => throw new IllegalArgumentException(s"double method $m")
    }
    if (validity != null) { var i = 0; while (i < n) { if (!validity(i)) out(i) = 0.0; i += 1 } }
    out
  }
}
