package graft.codecs

import graft.core.{BitPack, Bytes}
import scala.collection.mutable

/** Lightweight codecs for var-length binary/string column chunks.
  *
  * Layouts mirror the reference's utf8 offsets+bytes split
  * (python-blosc2 `_utf8_array.py:9-31`) and chunk-local dictionary
  * columns (`dictionary_column.py:10-21`); FSST is the string
  * symbol-table scheme from the public FSST paper (Boncz et al.,
  * VLDB 2020) in a simplified 1-byte-code form.
  *
  * Null values are encoded as empty (validity bitmap restores them).
  */
object BinKernels {

  private val EMPTY = Array.emptyByteArray

  // reusable per-thread blob for the FSST whole-chunk output (see the
  // FSST encode case); capped like the other codec thread-locals
  private val fsstBlob = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }

  @inline private def at(vec: BinVec, i: Int): Array[Byte] = {
    val v = vec.values(i)
    if (v == null) EMPTY else v
  }

  def encode(method: Byte, vec: BinVec, w: Bytes.Writer): Unit = method match {
    case Method.PLAIN =>
      val n = vec.n
      var i = 0
      while (i < n) { val v = at(vec, i); w.putVarInt(v.length); i += 1 }
      i = 0
      while (i < n) { w.putBytes(at(vec, i)); i += 1 }

    case Method.CONST =>
      if (vec.n > 0) { val v = at(vec, 0); w.putVarInt(v.length); w.putBytes(v) }

    case Method.DICT =>
      val n = vec.n
      // chunk-local dictionary in first-occurrence order (no global dict:
      // at 10^12 rows chunk-local + lazy unification is the only scalable
      // shape — SURVEY.md §7.3)
      val index = new mutable.HashMap[String, Int]()
      val dict = new mutable.ArrayBuffer[Array[Byte]]()
      val codes = new Array[Long](n)
      var i = 0
      while (i < n) {
        val v = at(vec, i)
        val key = new String(v, java.nio.charset.StandardCharsets.ISO_8859_1)
        codes(i) = index.getOrElseUpdate(key, { dict += v; dict.length - 1 }).toLong
        i += 1
      }
      w.putVarInt(dict.length)
      dict.foreach { d => w.putVarInt(d.length); w.putBytes(d) }
      val width = if (dict.length <= 1) 0 else BitPack.bitsFor((dict.length - 1).toLong)
      w.putByte(width)
      BitPack.pack(codes, 0, n, width, w)

    case Method.FSST =>
      val n = vec.n
      val table = Fsst.train(vec)
      Fsst.writeTable(table, w)
      // encoded lengths first (so decode can split values), then code
      // blob — all values compressed into ONE reusable contiguous
      // buffer (no per-value output arrays; bytes identical)
      val lens = new Array[Int](n)
      var blob = fsstBlob.get()
      var o = 0
      var i = 0
      while (i < n) {
        val v = at(vec, i)
        val need = o + v.length * 2 + 8
        if (blob.length < need) {
          blob = java.util.Arrays.copyOf(blob,
            java.lang.Integer.highestOneBit(math.max(need - 1, 1)) << 1)
          if (blob.length <= (1 << 27)) fsstBlob.set(blob)
        }
        val end = Fsst.compressInto(table, v, blob, o)
        lens(i) = end - o
        o = end
        i += 1
      }
      i = 0
      while (i < n) { w.putVarInt(lens(i)); i += 1 }
      w.putBytes(blob, 0, o)

    case Method.BYTEPACK =>
      // small-alphabet packing: hex commits (16 symbols → 4 bits/byte),
      // DNA-like data, etc. Requires alphabet ≤ 64 distinct bytes
      // (Selector validates before offering this plan).
      val n = vec.n
      val present = new Array[Int](256)
      java.util.Arrays.fill(present, -1)
      val alphabet = new mutable.ArrayBuffer[Byte]()
      var i = 0
      while (i < n) {
        val v = at(vec, i)
        var j = 0
        while (j < v.length) {
          val b = v(j) & 0xff
          if (present(b) < 0) { present(b) = alphabet.length; alphabet += v(j) }
          j += 1
        }
        i += 1
      }
      require(alphabet.length <= 64, s"BYTEPACK alphabet ${alphabet.length} > 64")
      val width = if (alphabet.length <= 1) 0 else BitPack.bitsFor((alphabet.length - 1).toLong)
      w.putByte(alphabet.length)
      alphabet.foreach(b => w.putByte(b & 0xff))
      w.putByte(width)
      var total = 0L
      i = 0
      while (i < n) { val v = at(vec, i); w.putVarInt(v.length); total += v.length; i += 1 }
      val codes = new Array[Long](total.toInt)
      var k = 0
      i = 0
      while (i < n) {
        val v = at(vec, i)
        var j = 0
        while (j < v.length) { codes(k) = present(v(j) & 0xff).toLong; k += 1; j += 1 }
        i += 1
      }
      BitPack.pack(codes, 0, codes.length, width, w)

    case Method.SHUFFLE =>
      // byte-plane transpose over the concatenated fixed-width elements
      // (blosc2 SHUFFLE with typesize = elemWidth): groups sign/exponent
      // bytes of packed float arrays so the entropy stage sees runs.
      val width = vec.elemWidth
      require(width > 0, "BIN SHUFFLE requires a fixed elemWidth")
      val n = vec.n
      w.putByte(width)
      var i = 0
      while (i < n) { w.putVarInt(at(vec, i).length); i += 1 }
      var b = 0
      while (b < width) {
        i = 0
        while (i < n) {
          val v = at(vec, i)
          var e = b
          while (e < v.length) { w.putByte(v(e) & 0xff); e += width }
          i += 1
        }
        b += 1
      }

    case m if CodecRegistry.isPluginId(m) =>
      CodecRegistry.binKernelOrThrow(m).encode(vec, w)

    case m => throw new IllegalArgumentException(s"bin method $m")
  }

  /** Counts full value-materializing decodes — lets specs prove that
    * the decode-free dictionary predicate path never materializes
    * values (graft.index.DictFilter); negligible cost in production.
    */
  val fullDecodes = new java.util.concurrent.atomic.AtomicLong(0)

  /** Decode-free equality over a DICT body: read ONLY the dictionary
    * head, map the target byte-strings to codes, and — only if any
    * target is present — unpack the bit-packed code stream and return
    * matching positions. Values are never materialized; a chunk whose
    * dictionary lacks every target costs just the dictionary read.
    * Mirrors the reference's dictionary-predicate rewrite
    * (python-blosc2 ctable.py:12953-13029: string compare → int32 code
    * compare).
    *
    * `r` must be positioned at the DICT body (after the validity
    * bitmap). Null positions never match (SQL equality semantics).
    */
  def dictEqualityPositions(r: Bytes.Reader, n: Int, validity: Array[Boolean],
                            targets: Array[Array[Byte]]): Array[Int] = {
    val dSize = r.getVarInt()
    val wanted = new Array[Boolean](dSize)
    var anyHit = false
    var i = 0
    while (i < dSize) {
      val entry = r.getBytes(r.getVarInt())
      var t = 0
      while (t < targets.length && !wanted(i)) {
        if (java.util.Arrays.equals(entry, targets(t))) { wanted(i) = true; anyHit = true }
        t += 1
      }
      i += 1
    }
    if (!anyHit) return Array.emptyIntArray
    val width = r.getByte()
    val codes = new Array[Long](n)
    BitPack.unpack(r, n, width, codes, 0)
    val out = new mutable.ArrayBuffer[Int]()
    i = 0
    while (i < n) {
      if ((validity == null || validity(i)) && wanted(codes(i).toInt)) out += i
      i += 1
    }
    out.toArray
  }

  def decode(method: Byte, r: Bytes.Reader, n: Int, validity: Array[Boolean]): Array[Array[Byte]] = {
    fullDecodes.incrementAndGet()
    val out = new Array[Array[Byte]](n)
    method match {
      case Method.PLAIN =>
        val lens = new Array[Int](n)
        var i = 0
        while (i < n) { lens(i) = r.getVarInt(); i += 1 }
        i = 0
        while (i < n) { out(i) = r.getBytes(lens(i)); i += 1 }

      case Method.CONST =>
        if (n > 0) {
          val v = r.getBytes(r.getVarInt())
          var i = 0
          while (i < n) { out(i) = v; i += 1 }
        }

      case Method.DICT =>
        val dSize = r.getVarInt()
        val dict = new Array[Array[Byte]](dSize)
        var i = 0
        while (i < dSize) { dict(i) = r.getBytes(r.getVarInt()); i += 1 }
        val width = r.getByte()
        val codes = new Array[Long](n)
        BitPack.unpack(r, n, width, codes, 0)
        i = 0
        while (i < n) { out(i) = dict(codes(i).toInt); i += 1 }

      case Method.FSST =>
        val table = Fsst.readTable(r)
        val lens = new Array[Int](n)
        var i = 0
        while (i < n) { lens(i) = r.getVarInt(); i += 1 }
        i = 0
        while (i < n) { out(i) = Fsst.decompress(table, r.getBytes(lens(i))); i += 1 }

      case Method.BYTEPACK =>
        val aSize = r.getByte()
        val alphabet = new Array[Byte](aSize)
        var i = 0
        while (i < aSize) { alphabet(i) = r.getByte().toByte; i += 1 }
        val width = r.getByte()
        val lens = new Array[Int](n)
        var total = 0L
        i = 0
        while (i < n) { lens(i) = r.getVarInt(); total += lens(i); i += 1 }
        val codes = new Array[Long](total.toInt)
        BitPack.unpack(r, codes.length, width, codes, 0)
        var k = 0
        i = 0
        while (i < n) {
          val v = new Array[Byte](lens(i))
          var j = 0
          while (j < v.length) { v(j) = alphabet(codes(k).toInt); k += 1; j += 1 }
          out(i) = v
          i += 1
        }

      case Method.SHUFFLE =>
        val width = r.getByte()
        val lens = new Array[Int](n)
        var i = 0
        while (i < n) { lens(i) = r.getVarInt(); out(i) = new Array[Byte](lens(i)); i += 1 }
        var b = 0
        while (b < width) {
          i = 0
          while (i < n) {
            val v = out(i)
            var e = b
            while (e < v.length) { v(e) = r.getByte().toByte; e += width }
            i += 1
          }
          b += 1
        }

      case m if CodecRegistry.isPluginId(m) =>
        val dec = CodecRegistry.binKernelOrThrow(m).decode(r, n, validity)
        System.arraycopy(dec, 0, out, 0, n)

      case m => throw new IllegalArgumentException(s"bin method $m")
    }
    if (validity != null) {
      var i = 0
      while (i < n) { if (!validity(i)) out(i) = null; i += 1 }
    }
    out
  }
}

/** Simplified FSST (Fast Static Symbol Table): up to 255 symbols of
  * 1..8 bytes, 1-byte codes, code 255 = escape + literal byte. Trained
  * per chunk by a few BPE-style rounds over a bounded sample — the same
  * "trial on a sample, then commit" pattern as blosc2's STUNE blocksize
  * search (python-blosc2 `core.py:1621-1640`).
  */
object Fsst {
  val ESCAPE = 255
  val MAX_SYMBOLS = 255
  val MAX_LEN = 8
  private val SAMPLE_BYTES = 1 << 15
  private val ROUNDS = 3

  /** table: symbols(code) = bytes. The encode-side matcher is built
    * lazily: decode-side tables (readTable/decompress) only touch
    * `symbols` and never build it. Callers fetch it ONCE per value (not
    * per byte), so the lazy-init check stays off the per-byte path.
    */
  final class Table(val symbols: Array[Array[Byte]]) {
    lazy val dispatch: Dispatch = new Dispatch(symbols)
  }

  /** big-endian 8-byte window of data at pos, zero-padded past the end;
    * one unaligned load on the common path. Platform.getLong is Spark's
    * own unsafe accessor (an intrinsified static — the same primitive
    * UnsafeRow reads ride on).
    */
  @inline private def wordAt(data: Array[Byte], pos: Int): Long = {
    val avail = data.length - pos
    if (avail >= 8)
      java.lang.Long.reverseBytes(org.apache.spark.unsafe.Platform.getLong(
        data, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos))
    else {
      var w = 0L
      var j = 0
      while (j < avail) { w |= (data(pos + j) & 0xffL) << (56 - 8 * j); j += 1 }
      w
    }
  }

  /** the high `len` bytes of a big-endian word (len in 1..8) */
  @inline private def lenMask(len: Int): Long = -1L << ((8 - len) << 3)

  /** Longest-match dispatch following the FSST paper's structure: every
    * 2-byte prefix that starts a symbol of length >= 2 gets one entry in
    * a small open-addressing table (at most 1,024 slots for 255 symbols),
    * holding the best match of length <= 2 at that prefix (the exact
    * 2-byte symbol, else b0's 1-byte symbol, else escape) and the
    * bounds of a flat slab of the prefix's >= 3-byte symbols, longest
    * first. A prefix with no entry decides by b0's 1-byte symbol alone.
    * Build cost and footprint are O(symbols), so the per-training-round
    * and per-compress builds stay small next to the work they serve.
    *
    * Each slab candidate carries its bytes packed big-endian into one
    * Long, so a match test is a single `(word ^ symWord) & lenMask == 0`
    * against ONE unaligned 8-byte load of the input (the paper's
    * trick). The longest matching symbol wins (two distinct symbols of
    * equal length never match the same position; among byte-identical
    * symbols the highest code wins).
    */
  final class Dispatch(symbols: Array[Array[Byte]]) {
    /** packed (code<<8 | 1) for 1-byte symbols, -1 otherwise */
    private val oneByte: Array[Int] = {
      val a = Array.fill(256)(-1)
      var c = 0
      while (c < symbols.length) {
        if (symbols(c).length == 1) a(symbols(c)(0) & 0xff) = (c << 8) | 1
        c += 1
      }
      a
    }

    // Prefix table: slot s is slots(4s .. 4s+3) = [prefix (-1 = empty),
    // best packed match of length <= 2 (or -1), slab start, slab end].
    // Slab: candPacked = (code << 8) | len, candWord = the symbol's bytes
    // big-endian zero-padded.
    private val (shift, wrap, slots, candPacked, candWord) = {
      var nPref = 0
      var nLong = 0
      var c = 0
      while (c < symbols.length) {
        val len = symbols(c).length
        if (len >= 2) nPref += 1
        if (len >= 3) nLong += 1
        c += 1
      }
      // at most a quarter full: at half load the linear-probe chains of
      // text prefixes cost ~20% of compress throughput (corpus content
      // chunks, 4-core VM)
      var bits = 1
      while ((1 << bits) < 4 * nPref) bits += 1
      val mask = (1 << bits) - 1
      val slots = new Array[Int](4 << bits)
      var s = 0
      while (s <= mask) { slots(4 * s) = -1; slots(4 * s + 1) = -1; s += 1 }
      def slotOf(k: Int): Int = {
        var s = (k * 0x9e3779b1) >>> (32 - bits)
        while (slots(4 * s) != -1 && slots(4 * s) != k) s = (s + 1) & mask
        slots(4 * s) = k
        4 * s
      }
      @inline def prefixOf(sym: Array[Byte]): Int = ((sym(0) & 0xff) << 8) | (sym(1) & 0xff)
      c = 0
      while (c < symbols.length) {
        val sym = symbols(c)
        if (sym.length == 2) slots(slotOf(prefixOf(sym)) + 1) = (c << 8) | 2
        c += 1
      }
      // >= 3-byte symbols sorted by (prefix, longest first, highest
      // code first) — each prefix's slab is then one contiguous run
      val order = new Array[Long](nLong)
      var i = 0
      c = 0
      while (c < symbols.length) {
        val sym = symbols(c)
        if (sym.length >= 3) {
          order(i) = (prefixOf(sym).toLong << 40) | ((0xffL - sym.length) << 32) | (Int.MaxValue - c)
          i += 1
        }
        c += 1
      }
      java.util.Arrays.sort(order)
      val packed = new Array[Int](nLong)
      val words = new Array[Long](nLong)
      i = 0
      while (i < nLong) {
        val code = Int.MaxValue - (order(i) & 0xffffffffL).toInt
        val sym = symbols(code)
        var w = 0L
        var j = 0
        while (j < sym.length) { w |= (sym(j) & 0xffL) << (56 - 8 * j); j += 1 }
        packed(i) = (code << 8) | sym.length
        words(i) = w
        val b = slotOf(prefixOf(sym))
        if (slots(b + 3) == 0) slots(b + 2) = i
        slots(b + 3) = i + 1
        i += 1
      }
      s = 0
      while (s <= mask) {
        if (slots(4 * s) != -1 && slots(4 * s + 1) == -1) slots(4 * s + 1) = oneByte(slots(4 * s) >>> 8)
        s += 1
      }
      (32 - bits, slots.length - 1, slots, packed, words)
    }

    /** Longest symbol matching data at pos, packed as (code << 8) | len;
      * -1 if none. Allocation-free — this runs once per input byte.
      */
    def longestMatch(data: Array[Byte], pos: Int): Int = {
      val avail = data.length - pos
      if (avail >= 2) {
        val k = ((data(pos) & 0xff) << 8) | (data(pos + 1) & 0xff)
        var b = ((k * 0x9e3779b1) >>> shift) << 2
        var key = slots(b)
        while (key != k) {
          if (key == -1) return oneByte(k >>> 8)
          b = (b + 4) & wrap
          key = slots(b)
        }
        var i = slots(b + 2)
        val end = slots(b + 3)
        if (i < end) {
          val w = wordAt(data, pos)
          while (i < end) {
            // candidates are longest-first: first hit IS the longest.
            // len > avail can't hit: the zero-padded window would need
            // the symbol's tail bytes to be zero, which the mask covers
            // only within `len`, so require len <= avail explicitly.
            val p = candPacked(i)
            val len = p & 0xff
            if (len <= avail && ((w ^ candWord(i)) & lenMask(len)) == 0L) return p
            i += 1
          }
        }
        slots(b + 1)
      } else oneByte(data(pos) & 0xff)
    }
  }

  private def sample(vec: BinVec): Array[Byte] = {
    val w = new Bytes.Writer(SAMPLE_BYTES)
    val n = vec.n
    if (n == 0) return w.result()
    // spread the sample across the chunk, not just the head
    val step = math.max(1, n / 64)
    var i = 0
    while (i < n && w.size < SAMPLE_BYTES) {
      val v = vec.values(i)
      if (v != null) w.putBytes(v, 0, math.min(v.length, SAMPLE_BYTES - w.size))
      i += step
    }
    w.result()
  }

  /** Candidate-symbol occurrence counts for training: open addressing
    * over (big-endian zero-padded word, length), one probe per bump.
    * Keys go through murmur3's fmix64 — symbol bytes sit in the word's
    * HIGH bytes, so a multiply-only hash would cluster short symbols.
    */
  private final class GainCounter(expected: Int) {
    private var bits = 6
    while ((1 << bits) < expected) bits += 1
    private var words = new Array[Long](1 << bits)
    private var lens = new Array[Byte](1 << bits) // 0 = empty slot
    private var counts = new Array[Int](1 << bits)
    private var size = 0

    @inline private def home(w: Long, len: Int): Int = {
      var h = w ^ len
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
      h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
      h ^= h >>> 33
      (h >>> (64 - bits)).toInt
    }

    def clear(): Unit = { java.util.Arrays.fill(lens, 0.toByte); size = 0 }

    def bump(w: Long, len: Int): Unit = {
      val mask = lens.length - 1
      var s = home(w, len)
      while (lens(s) != 0 && (words(s) != w || lens(s) != len)) s = (s + 1) & mask
      if (lens(s) != 0) counts(s) += 1
      else {
        words(s) = w; lens(s) = len.toByte; counts(s) = 1
        size += 1
        if (2 * size > lens.length) grow()
      }
    }

    private def grow(): Unit = {
      val (ow, ol, oc) = (words, lens, counts)
      bits += 1
      words = new Array[Long](1 << bits)
      lens = new Array[Byte](1 << bits)
      counts = new Array[Int](1 << bits)
      val mask = lens.length - 1
      var i = 0
      while (i < ol.length) {
        if (ol(i) != 0) {
          var s = home(ow(i), ol(i))
          while (lens(s) != 0) s = (s + 1) & mask
          words(s) = ow(i); lens(s) = ol(i); counts(s) = oc(i)
        }
        i += 1
      }
    }

    /** bytes saved by a symbol: a len-L symbol used f times saves
      * f*(L-1) bytes (L>=2) or f bytes (L==1: code replaces
      * escape+literal)
      */
    @inline private def saved(s: Int): Long =
      if (lens(s) >= 2) counts(s).toLong * (lens(s) - 1) else counts(s).toLong

    /** total rank order: bytes saved descending, then symbol bytes
      * ascending — (unsigned padded word, len) ascending IS that
      * byte-lexicographic order (a proper prefix has zeros, or smaller
      * bytes, where the longer symbol differs, and equal words mean one
      * is the other's zero-extended prefix)
      */
    @inline private def before(a: Int, b: Int): Boolean = {
      val sa = saved(a)
      val sb = saved(b)
      if (sa != sb) sa > sb
      else {
        val c = java.lang.Long.compareUnsigned(words(a), words(b))
        if (c != 0) c < 0 else lens(a) < lens(b)
      }
    }

    /** The first `k` candidates of the rank order, best first. A
      * bounded heap keeps the k best seen so far with the WORST at the
      * root; the order is total, so the result is exactly the head of
      * a full sort.
      */
    def top(k: Int): Array[Array[Byte]] = {
      val heap = new Array[Int](k)
      var n = 0
      def siftDown(from: Int): Unit = {
        var i = from
        var done = false
        while (!done) {
          val l = 2 * i + 1
          if (l >= n) done = true
          else {
            val c = if (l + 1 < n && before(heap(l), heap(l + 1))) l + 1 else l
            if (before(heap(i), heap(c))) {
              val t = heap(i); heap(i) = heap(c); heap(c) = t
              i = c
            } else done = true
          }
        }
      }
      var s = 0
      while (s < lens.length) {
        if (lens(s) != 0) {
          if (n < k) {
            var i = n
            heap(i) = s
            n += 1
            while (i > 0 && before(heap((i - 1) / 2), heap(i))) {
              val p = (i - 1) / 2
              val t = heap(i); heap(i) = heap(p); heap(p) = t
              i = p
            }
          } else if (k > 0 && before(s, heap(0))) {
            heap(0) = s
            siftDown(0)
          }
        }
        s += 1
      }
      val out = new Array[Array[Byte]](n)
      while (n > 0) {
        val slot = heap(0)
        n -= 1
        heap(0) = heap(n)
        siftDown(0)
        val len = lens(slot)
        val b = new Array[Byte](len)
        var j = 0
        while (j < len) { b(j) = ((words(slot) >>> (56 - 8 * j)) & 0xff).toByte; j += 1 }
        out(n) = b
      }
      out
    }
  }

  def train(vec: BinVec): Table = {
    val s = sample(vec)
    // <= 2 candidates per unit; sized for the common case, grows if needed
    val gains = new GainCounter(s.length)
    var symbols = Array.empty[Array[Byte]]
    var round = 0
    while (round < ROUNDS) {
      val matcher = new Dispatch(symbols)
      gains.clear()
      var pos = 0
      var prevWord = 0L // input window at the previous unit's start
      var prevLen = 0 // 0 = no previous unit
      while (pos < s.length) {
        val m = matcher.longestMatch(s, pos)
        val curLen = if (m >= 0) m & 0xff else 1
        val w = wordAt(s, pos)
        // candidate: this unit alone
        gains.bump(w & lenMask(curLen), curLen)
        // candidate: previous unit + this unit (BPE merge), capped at MAX_LEN
        if (prevLen > 0 && prevLen + curLen <= MAX_LEN)
          gains.bump(prevWord & lenMask(prevLen + curLen), prevLen + curLen)
        prevWord = w
        prevLen = curLen
        pos += curLen
      }
      symbols = gains.top(MAX_SYMBOLS)
      round += 1
    }
    new Table(symbols)
  }

  // reusable per-thread scratch (worst case 2 bytes out per byte in);
  // avoids a fresh 2x-size allocation per value on the hot path
  private val scratch = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](1 << 16)
  }

  def compress(t: Table, data: Array[Byte]): Array[Byte] = {
    val need = data.length * 2 + 8
    var out = scratch.get()
    if (out.length < need) { out = new Array[Byte](need); scratch.set(out) }
    val o = compressInto(t, data, out, 0)
    java.util.Arrays.copyOf(out, o)
  }

  /** Compress `data` into `out` starting at `off`; returns the end
    * offset. Caller guarantees capacity ≥ off + 2*data.length. Writing
    * a whole chunk's values into ONE contiguous buffer avoids the
    * per-value copyOf of [[compress]] (~chunk-sized allocation churn
    * per chunk at 32 codec threads).
    */
  def compressInto(t: Table, data: Array[Byte], out: Array[Byte], off: Int): Int = {
    var o = off
    var pos = 0
    if (t.symbols.length == 0) {
      while (pos < data.length) {
        out(o) = ESCAPE.toByte; out(o + 1) = data(pos); o += 2; pos += 1
      }
    } else {
      val matcher = t.dispatch // one lazy-init check per VALUE, not per byte
      while (pos < data.length) {
        val m = matcher.longestMatch(data, pos)
        if (m >= 0) { out(o) = (m >>> 8).toByte; o += 1; pos += m & 0xff }
        else { out(o) = ESCAPE.toByte; out(o + 1) = data(pos); o += 2; pos += 1 }
      }
    }
    o
  }

  /** Two passes — exact-size the output from the code stream, then
    * fill. No growth buffer, no final copy: one allocation per value
    * on the decode hot path (runs once per encoded value per chunk).
    */
  def decompress(t: Table, enc: Array[Byte]): Array[Byte] = {
    val syms = t.symbols
    var outLen = 0
    var pos = 0
    while (pos < enc.length) {
      val code = enc(pos) & 0xff
      pos += 1
      if (code == ESCAPE) { outLen += 1; pos += 1 }
      else outLen += syms(code).length
    }
    val out = new Array[Byte](outLen)
    var o = 0
    pos = 0
    while (pos < enc.length) {
      val code = enc(pos) & 0xff
      pos += 1
      if (code == ESCAPE) { out(o) = enc(pos); o += 1; pos += 1 }
      else {
        val s = syms(code)
        if (s.length == 1) { out(o) = s(0); o += 1 }
        else { System.arraycopy(s, 0, out, o, s.length); o += s.length }
      }
    }
    out
  }

  def writeTable(t: Table, w: Bytes.Writer): Unit = {
    w.putVarInt(t.symbols.length)
    t.symbols.foreach { s => w.putByte(s.length); w.putBytes(s) }
  }

  def readTable(r: Bytes.Reader): Table = {
    val n = r.getVarInt()
    val syms = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) { syms(i) = r.getBytes(r.getByte()); i += 1 }
    new Table(syms)
  }
}
