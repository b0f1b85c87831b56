package graft.codecs

import graft.core.Bytes

/** In-memory column-chunk vectors — the unit every codec operates on.
  *
  * Nulls use a validity array (Spark-native semantics) rather than the
  * reference's sentinel values (python-blosc2 `schema.py:622-635`,
  * `ctable.py:118` NullPolicy); see SURVEY.md §1.2 for the mapping.
  * Strings are carried as UTF-8 byte arrays so the sha256 roundtrip
  * invariant is over exact bytes.
  */
sealed trait ColVec {
  def n: Int
  def validity: Array[Boolean] // null => false; null field means all-valid
  @inline final def isValid(i: Int): Boolean = validity == null || validity(i)
  def nullCount: Int =
    if (validity == null) 0 else { var c = 0; var i = 0; while (i < validity.length) { if (!validity(i)) c += 1; i += 1 }; c }
}
final case class LongVec(values: Array[Long], validity: Array[Boolean] = null) extends ColVec { def n: Int = values.length }
final case class DoubleVec(values: Array[Double], validity: Array[Boolean] = null) extends ColVec { def n: Int = values.length }
/** values(i) == null allowed iff validity(i) == false.
  * `elemWidth` > 0 marks fixed-width element payloads (e.g. packed
  * float32 arrays, width 4): every value's length is a multiple of it,
  * which enables the byte-plane SHUFFLE method (blosc2's typesize).
  */
final case class BinVec(values: Array[Array[Byte]], validity: Array[Boolean] = null,
                        elemWidth: Int = 0) extends ColVec { def n: Int = values.length }

object ColType {
  val LONG: Byte = 0
  val DOUBLE: Byte = 1
  val BIN: Byte = 2
}

/** Method ids — the lightweight-compression stage (the analog of the
  * reference's 6-slot filter pipeline + special-value chunks,
  * python-blosc2 `storage.py:19-27`, `__init__.py:134-162,176-185`).
  */
object Method {
  // shared
  val PLAIN: Byte = 0
  val CONST: Byte = 1 // special-value chunk: whole chunk is one value
  // longs
  val RLE: Byte = 2 // run-length (value, runLen) pairs
  val FOR_PACK: Byte = 3 // frame-of-reference + bit-pack
  val DELTA_PACK: Byte = 4 // delta + zigzag + FOR bit-pack
  // doubles
  val SHUFFLE: Byte = 5 // byte transpose (blosc2 SHUFFLE filter analog)
  val ALP: Byte = 9 // decimal-scaled longs + FOR bit-pack, raw-bits exceptions
  // strings / binary
  val DICT: Byte = 6 // chunk-local dictionary, bit-packed codes
  val FSST: Byte = 7 // symbol-table byte compression (FSST-style)
  val BYTEPACK: Byte = 8 // small-alphabet nibble/bit packing (hex commits etc.)

  def name(m: Byte): String = m match {
    case PLAIN => "plain"
    case CONST => "const"
    case RLE => "rle"
    case FOR_PACK => "for"
    case DELTA_PACK => "delta"
    case SHUFFLE => "shuffle"
    case DICT => "dict"
    case FSST => "fsst"
    case BYTEPACK => "bytepack"
    case ALP => "alp"
    case m if CodecRegistry.isPluginId(m) =>
      CodecRegistry.binKernel(m).map(_.name).getOrElse(s"plugin$m")
    case _ => s"m$m"
  }
}

/** Entropy (general-purpose) stage applied after the lightweight method —
  * the analog of the reference's codec slot (blosclz/lz4/zstd,
  * python-blosc2 `__init__.py:108-131`). Backed by the zstd-jni / lz4-java
  * libraries that ship with Apache Spark.
  */
object Entropy {
  val NONE: Byte = 0
  val LZ4: Byte = 1
  val ZSTD: Byte = 2

  private lazy val lz4 = net.jpountz.lz4.LZ4Factory.fastestInstance()

  // One zstd context per thread, reused across calls. The static
  // Zstd.compress/decompress helpers allocate a multi-MB native
  // workspace per call (mmap/munmap) — at 32 threads that serializes on
  // the kernel mmap lock and dominates task CPU (measured via jstack +
  // vmstat sys%).
  private val zc = new ThreadLocal[com.github.luben.zstd.ZstdCompressCtx] {
    override def initialValue() = new com.github.luben.zstd.ZstdCompressCtx()
  }
  private val zd = new ThreadLocal[com.github.luben.zstd.ZstdDecompressCtx] {
    override def initialValue() = new com.github.luben.zstd.ZstdDecompressCtx()
  }

  // Long-distance matching for LARGE, duplicate-heavy bodies. zstd
  // level 3/5 windows are 1-2 MiB, so two copies of the same source
  // file >2 MiB apart inside a 16 MiB chunk never match — exactly the
  // redundancy real code corpora are full of (vendored/forked files;
  // public exact-dup estimates run 20-40% of files). When the caller
  // passes the dup hint and the body is >= LDM_MIN_BYTES we widen the
  // window to cover the whole body (<= 2^24; zstd's DEFAULT decoder
  // window-log limit is 27, so frames stay readable by the untouched
  // decompress path — frames are self-describing, no format change) and
  // enable LDM. Measured on 16 MiB chunk-shaped bodies (BENCH/BASELINE.md,
  // "Round-5 late session"): +22% ratio at 30% dup files, but -0.1..-0.7%
  // size and -10..-30% speed on dup-FREE bodies — hence hint-gated, not
  // blanket. Deterministic in (srcLen, hint) → task retries emit
  // identical bytes. A separate ctx keeps the plain-ZSTD ctx's
  // parameters pristine. Native memory: window+LDM tables bounded,
  // ~40 MiB/thread.
  val LDM_MIN_BYTES: Int = 4 << 20
  private val LDM_MAX_WLOG = 24
  private val zcl = new ThreadLocal[com.github.luben.zstd.ZstdCompressCtx] {
    override def initialValue() = new com.github.luben.zstd.ZstdCompressCtx()
  }
  private def ldmWindowLog(srcLen: Int): Int = {
    var w = 20
    while (w < LDM_MAX_WLOG && (1 << w) < srcLen) w += 1
    w
  }

  def name(e: Byte): String = e match {
    case NONE => "none"
    case LZ4 => "lz4"
    case ZSTD => "zstd"
    case _ => s"e$e"
  }

  def compress(e: Byte, level: Int, raw: Array[Byte]): Array[Byte] =
    if (e == NONE) raw else compressRange(e, level, raw, raw.length)

  // reusable per-thread staging buffer for compressor output: the
  // bound-size destination would otherwise be a fresh (JVM-zeroed)
  // chunk-sized array per call — at 32 codec threads that zeroing is
  // real DRAM write bandwidth taken from the codecs themselves
  private val scratchTl = new ThreadLocal[Array[Byte]] {
    override def initialValue() = new Array[Byte](1 << 16)
  }
  private def scratch(min: Int): Array[Byte] = {
    var b = scratchTl.get()
    if (b.length < min) {
      b = new Array[Byte](java.lang.Integer.highestOneBit(math.max(min - 1, 1)) << 1)
      if (b.length <= (1 << 27)) scratchTl.set(b) // same retention cap as bodyTl
    }
    b
  }

  // DIRECT staging buffers for the zstd JNI boundary. Heap-array zstd
  // calls pin src+dst with GetPrimitiveArrayCritical for the WHOLE
  // single-shot compression (~300 ms for a 32 MiB chunk at level 5);
  // with 32 codec threads near-always inside a critical region, every
  // young GC becomes "GCLocker Initiated" — deferred until the slowest
  // critical exits — and allocating threads stall meanwhile (measured:
  // 35% of 32-thread task time runnable-but-off-CPU vs 4% at 8
  // threads). Direct ByteBuffers take the no-critical JNI path; the two
  // extra memcpys (~4 ms/chunk) are noise next to the stalls removed.
  // Same ZSTD_compress2 call → bit-identical output.
  private val dSrcTl = new ThreadLocal[java.nio.ByteBuffer]()
  private val dDstTl = new ThreadLocal[java.nio.ByteBuffer]()
  private def directBuf(tl: ThreadLocal[java.nio.ByteBuffer], min: Int): java.nio.ByteBuffer = {
    var b = tl.get()
    if (b == null || b.capacity() < min) {
      b = java.nio.ByteBuffer.allocateDirect(
        java.lang.Integer.highestOneBit(math.max(min - 1, 1)) << 1)
      if (b.capacity() <= (1 << 27)) tl.set(b)
    }
    b.clear()
    b
  }

  /** Compress `src[0, srcLen)` to an EXACT-size fresh array, staging
    * through the thread-local bound buffer (no per-call bound-size
    * allocation; same single-shot codec calls, bit-identical output).
    * NONE copies the prefix (callers wanting zero-copy handle NONE
    * themselves).
    */
  def compressRange(e: Byte, level: Int, src: Array[Byte], srcLen: Int,
                    ldmHint: Boolean = false): Array[Byte] = e match {
    case NONE => java.util.Arrays.copyOf(src, srcLen)
    case ZSTD =>
      val bound = com.github.luben.zstd.Zstd.compressBound(srcLen.toLong).toInt
      val srcB = directBuf(dSrcTl, srcLen)
      srcB.put(src, 0, srcLen)
      val dstB = directBuf(dDstTl, bound)
      val ctx = if (ldmHint && srcLen >= LDM_MIN_BYTES) {
        val c = zcl.get()
        c.setLong(ldmWindowLog(srcLen)) // enables LDM + sets window log
        c
      } else zc.get()
      ctx.setLevel(level)
      val n = ctx.compressDirectByteBuffer(dstB, 0, dstB.capacity(), srcB, 0, srcLen)
      val out = new Array[Byte](n)
      dstB.position(0)
      dstB.get(out, 0, n)
      out
    case LZ4 =>
      val c = lz4.fastCompressor()
      val dst = scratch(c.maxCompressedLength(srcLen))
      val n = c.compress(src, 0, srcLen, dst, 0)
      java.util.Arrays.copyOf(dst, n)
    case _ => throw new IllegalArgumentException(s"entropy $e")
  }

  def decompress(e: Byte, comp: Array[Byte], rawLen: Int): Array[Byte] = e match {
    case NONE => comp
    case _ =>
      val out = new Array[Byte](rawLen)
      decompressRangeInto(e, comp, 0, comp.length, out, rawLen)
      out
  }

  // Reused per-thread output buffer for chunk-body decompression. A
  // fresh 32 MiB body array per chunk is a G1 HUMONGOUS allocation
  // (>= half a region even at the 32 MiB max region size): it bypasses
  // the young gen, costs a full zeroing write pass, and its reclaim
  // needs concurrent-mark cycles — the measured reason decode ran ~1.6x
  // faster at a 48 GiB heap. The scratch makes body lifetime free.
  private val rawTl = new ThreadLocal[Array[Byte]] {
    override def initialValue() = new Array[Byte](1 << 16)
  }

  /** Decompress `comp[off, off+len)` into a REUSED per-thread buffer of
    * capacity >= rawLen (contents beyond rawLen are stale). The result
    * is valid only until this thread's next call — every consumer must
    * copy out what it keeps (the codec kernels' read API does).
    */
  def decompressScratch(e: Byte, comp: Array[Byte], off: Int, len: Int, rawLen: Int): Array[Byte] = {
    var out = rawTl.get()
    if (out.length < rawLen) {
      out = new Array[Byte](java.lang.Integer.highestOneBit(math.max(rawLen - 1, 1)) << 1)
      if (out.length <= (1 << 27)) rawTl.set(out)
    }
    decompressRangeInto(e, comp, off, len, out, rawLen)
    out
  }

  /** Decode a body that must come out exactly `rawLen` bytes long: a
    * damaged body throws, never leaving stale bytes in `out` (LZ4 through
    * the bounds-checked decoder; the fast one trusts its input and a
    * damaged body crashes the JVM in native code).
    */
  private def decompressRangeInto(e: Byte, comp: Array[Byte], off: Int, len: Int,
                                  out: Array[Byte], rawLen: Int): Unit = {
    val n = e match {
      case ZSTD =>
        // same no-critical JNI path as compressRange (decompress criticals
        // are shorter but 32 decode threads still gate the GCLocker)
        val srcB = directBuf(dSrcTl, len)
        srcB.put(comp, off, len)
        val dstB = directBuf(dDstTl, rawLen)
        val n = zd.get().decompressDirectByteBuffer(dstB, 0, rawLen, srcB, 0, len)
        dstB.position(0)
        dstB.get(out, 0, n)
        n
      case LZ4 =>
        lz4.safeDecompressor().decompress(comp, off, len, out, 0, rawLen)
      case _ => throw new IllegalArgumentException(s"entropy $e")
    }
    if (n != rawLen) throw new IllegalStateException(
      s"corrupt ${name(e)} body: decodes to $n bytes, the header records $rawLen")
  }
}

/** A per-column-chunk compression plan: lightweight method + entropy codec.
  * The tuner (graft.encode.Selector) picks one per column × chunk, playing
  * the role of blosc2's STUNE/BTUNE (`__init__.py:188-198`).
  */
final case class Plan(method: Byte, entropy: Byte, level: Int = 3) {
  def label: String = s"${Method.name(method)}+${Entropy.name(entropy)}"
}

/** Self-describing encoded column-chunk block.
  *
  * Layout: [magic][ver][colType][method][entropy][level]
  *         [nRows][nullCount][rawLen][payload...]
  * where payload = entropy(methodBody) and methodBody starts with the
  * validity bitmap when nullCount > 0.
  */
object ChunkCodec {
  val MAGIC = 0xb2
  val VERSION = 1

  /** Values >= this length participate in duplicate detection (shorter
    * repeats sit inside the normal zstd window or go DICT).
    */
  val LDM_DUP_MIN_VALUE = 1024
  /** Duplicate mass (bytes in values whose fingerprint was already
    * seen / total value bytes) at which LDM pays for itself — measured
    * break-even is ~1-2% (BENCH/BASELINE.md, "Round-5 late session").
    */
  val LDM_DUP_FRAC = 0.02

  // FNV-1a 64 over a clamped region — cheap per-value fingerprint.
  private def fnvRegion(h0: Long, x: Array[Byte], off: Int, len: Int): Long = {
    var h = h0
    var i = off
    val end = math.min(off + len, x.length)
    while (i < end) { h ^= (x(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Should this chunk's entropy stage use long-distance matching?
    * True when enough byte mass sits in EXACT-duplicate large values,
    * detected by sampled fingerprints (length + first/middle/last 64
    * bytes): identical values always collide; distinct values collide
    * only on fingerprint accident, which merely over-triggers the hint
    * (LDM is correct either way — it only changes compressed bytes).
    * Cost: ~200 fingerprinted bytes per large value, microseconds per
    * chunk. Near-dup-only chunks do not trigger (documented trade:
    * detecting those costs more than LDM saves on uncertain input).
    */
  def ldmHint(vec: ColVec): Boolean = vec match {
    case v: BinVec =>
      var total = 0L
      var dup = 0L
      val seen = new java.util.HashSet[java.lang.Long]()
      var i = 0
      while (i < v.n) {
        val x = v.values(i)
        if (x != null) {
          total += x.length
          if (x.length >= LDM_DUP_MIN_VALUE) {
            var h = 0xcbf29ce484222325L ^ x.length.toLong
            h = fnvRegion(h, x, 0, 64)
            h = fnvRegion(h, x, x.length / 2 - 32, 64)
            h = fnvRegion(h, x, x.length - 64, 64)
            if (!seen.add(h)) dup += x.length
          }
        }
        i += 1
      }
      total >= Entropy.LDM_MIN_BYTES && dup >= (total * LDM_DUP_FRAC).toLong
    case _ => false
  }

  // One reusable body writer per codec thread, CHECKED OUT for the
  // duration of an encode (re-entrant / plugin-recursive encodes fall
  // back to a fresh writer). Encoding a 32 MiB chunk previously paid
  // three chunk-sized alloc+zero+copy rounds (body growth, raw copy,
  // compressor bound buffer); at 32 threads that zeroing/GC traffic
  // competes with the codecs for the same DRAM bandwidth — the measured
  // 8→32 CPU-inflation term. Payload bytes are bit-identical.
  private val bodyTl = new ThreadLocal[Bytes.Writer]()

  def encode(vec: ColVec, plan: Plan): Array[Byte] = encodeEach(vec, Seq(plan)).head

  /** `encode(vec, p)` for each of `plans`, which must share ONE method:
    * the method stage — the expensive half for FSST/DICT — runs once,
    * the entropy stage and header once per plan. The Selector's trials
    * go through this, so fsst+zstd5 and fsst+zstd3 train one FSST table
    * between them, and a trial whose input is the whole chunk yields the
    * chunk's real encode.
    */
  def encodeEach(vec: ColVec, plans: Seq[Plan]): Seq[Array[Byte]] = {
    require(plans.nonEmpty && plans.forall(_.method == plans.head.method),
      "encodeEach requires a single shared method")
    val method = plans.head.method
    // pre-size to the raw payload estimate: a 16 MB chunk body would
    // otherwise be copied ~10x by doubling growth
    val sizeHint = vec match {
      case v: BinVec =>
        var t = 64L; var i = 0
        while (i < v.n) { val x = v.values(i); if (x != null) t += x.length + 3; i += 1 }
        math.min(t, Int.MaxValue / 2L).toInt
      case v => v.n * 8 + 64
    }
    val cached = bodyTl.get()
    val body =
      if (cached != null) { bodyTl.set(null); cached.reset(); cached }
      else new Bytes.Writer(math.max(1 << 10, sizeHint))
    try {
      val nulls = vec.nullCount
      if (nulls > 0) writeValidity(vec.validity, body)
      val colType = vec match {
        case v: LongVec => LongKernels.encode(method, v, body); ColType.LONG
        case v: DoubleVec => DoubleKernels.encode(method, v, body); ColType.DOUBLE
        case v: BinVec => BinKernels.encode(method, v, body); ColType.BIN
      }
      val rawLen = body.size
      // dup-gated LDM: only bother fingerprinting when the body is big
      // enough for the wide window to exist at all
      lazy val dupHint = ldmHint(vec)
      plans.toVector.map { plan =>
        val ldm = plan.entropy == Entropy.ZSTD && rawLen >= Entropy.LDM_MIN_BYTES && dupHint
        val comp =
          if (plan.entropy == Entropy.NONE) null
          else Entropy.compressRange(plan.entropy, plan.level, body.rawBuffer, rawLen, ldm)
        // entropy made it bigger? store uncompressed (blosc2 does the same fallback)
        val (ent, payload, payloadLen) =
          if (comp != null && comp.length < rawLen) (plan.entropy, comp, comp.length)
          else (Entropy.NONE, body.rawBuffer, rawLen)
        val h = new Bytes.Writer(32)
        h.putByte(MAGIC); h.putByte(VERSION)
        h.putByte(colType); h.putByte(method); h.putByte(ent); h.putByte(plan.level)
        h.putVarInt(vec.n); h.putVarInt(nulls); h.putVarInt(rawLen)
        val out = new Array[Byte](h.size + payloadLen)
        System.arraycopy(h.rawBuffer, 0, out, 0, h.size)
        System.arraycopy(payload, 0, out, h.size, payloadLen)
        out
      }
    } finally {
      // cap retained capacity: 32 threads × ≤128 MiB bounds the pool at
      // a predictable slice of the pinned heap (chunk bodies are ~48 MiB)
      bodyTl.set(if (body.rawBuffer.length <= (1 << 27)) body else null)
    }
  }

  /** An encoded block's header, read by every reader of a block. */
  private final case class Header(colType: Byte, method: Byte, entropy: Byte, n: Int, nulls: Int,
                                  rawLen: Int, bodyPos: Int)

  /** Parse and bound `block`'s header once; a damaged field throws an
    * IllegalStateException that names it.
    */
  private def header(block: Array[Byte]): Header = {
    val r = new Bytes.Reader(block)
    require(r.getByte() == MAGIC, "bad magic")
    require(r.getByte() == VERSION, "bad version")
    val colType = r.getByte().toByte
    val method = r.getByte().toByte
    val entropy = r.getByte().toByte
    r.getByte() // level (unused on decode)
    val n = r.getVarInt()
    val nulls = r.getVarInt()
    val rawLen = r.getVarInt()
    def damaged(what: String) = throw new IllegalStateException(s"damaged chunk header: $what")
    if (n < 0) damaged(s"n = $n is negative")
    if (nulls < 0 || nulls > n) damaged(s"nulls = $nulls is outside [0, n = $n]")
    if (entropy == Entropy.NONE && rawLen != block.length - r.pos)
      damaged(s"rawLen = $rawLen, but ${block.length - r.pos} uncompressed body bytes follow the header")
    Header(colType, method, entropy, n, nulls, rawLen, r.pos)
  }

  /** The body reader and validity (null: no nulls) of the block `h`
    * heads. Uncompressed payloads are read IN PLACE from the block;
    * compressed ones land in the per-thread scratch (safe: every
    * kernel's read API copies what it keeps — nothing aliases the
    * reader's buffer past this call). A bitmap whose null count is not
    * the header's `nulls` throws.
    */
  private def body(block: Array[Byte], h: Header): (Bytes.Reader, Array[Boolean]) = {
    val r =
      if (h.entropy == Entropy.NONE) new Bytes.Reader(block, h.bodyPos)
      else new Bytes.Reader(
        Entropy.decompressScratch(h.entropy, block, h.bodyPos, block.length - h.bodyPos, h.rawLen))
    val validity = if (h.nulls > 0) readValidity(r, h.n) else null
    if (validity != null) {
      var nulls, i = 0
      while (i < h.n) { if (!validity(i)) nulls += 1; i += 1 }
      if (nulls != h.nulls) throw new IllegalStateException(
        s"damaged chunk header: nulls = ${h.nulls}, but the validity bitmap holds $nulls")
    }
    (r, validity)
  }

  /** Bytes of an encoded block after its header (the entropy-stage
    * output, or the raw method body when stored uncompressed).
    */
  def payloadLen(block: Array[Byte]): Int = block.length - header(block).bodyPos

  def decode(block: Array[Byte]): ColVec = {
    val h = header(block)
    val (r, validity) = body(block, h)
    h.colType match {
      case ColType.LONG => LongVec(LongKernels.decode(h.method, r, h.n, validity), validity)
      case ColType.DOUBLE => DoubleVec(DoubleKernels.decode(h.method, r, h.n, validity), validity)
      case ColType.BIN => BinVec(BinKernels.decode(h.method, r, h.n, validity), validity)
      case t => throw new IllegalArgumentException(s"colType $t")
    }
  }

  /** (method, entropy) of an encoded block without decoding it. */
  def peekPlan(block: Array[Byte]): Plan = Plan(block(3), block(4), block(5) & 0xff)

  /** Decode-free equality on a DICT-encoded chunk: returns the matching
    * row positions WITHOUT materializing any value (codes compared in
    * the dictionary domain), or None when the chunk is not
    * DICT/CONST-encoded and the caller must fall back to a full decode.
    * CONST chunks are served by a single compare (all-or-nothing).
    */
  def dictEqualityPositions(block: Array[Byte], targets: Array[Array[Byte]]): Option[Array[Int]] = {
    val h = header(block)
    if (h.colType != ColType.BIN || (h.method != Method.DICT && h.method != Method.CONST)) return None
    val (r, validity) = body(block, h)
    val n = h.n
    if (h.method == Method.CONST) {
      if (n == 0) return Some(Array.emptyIntArray)
      val v = r.getBytes(r.getVarInt())
      val hit = targets.exists(t => java.util.Arrays.equals(t, v))
      if (!hit) Some(Array.emptyIntArray)
      else Some(Array.range(0, n).filter(i => validity == null || validity(i)))
    } else Some(BinKernels.dictEqualityPositions(r, n, validity, targets))
  }

  private def writeValidity(validity: Array[Boolean], w: Bytes.Writer): Unit = {
    val n = validity.length
    var i = 0
    while (i < n) {
      var b = 0
      var j = 0
      while (j < 8 && i + j < n) { if (validity(i + j)) b |= 1 << j; j += 1 }
      w.putByte(b)
      i += 8
    }
  }

  private def readValidity(r: Bytes.Reader, n: Int): Array[Boolean] = {
    val out = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val b = r.getByte()
      var j = 0
      while (j < 8 && i + j < n) { out(i + j) = ((b >> j) & 1) != 0; j += 1 }
      i += 8
    }
    out
  }
}
