package graft.encode

import graft.codecs._
import scala.util.control.NonFatal

/** Sampling-based codec auto-selector — the role blosc2's tuners play
  * (STUNE/BTUNE, python-blosc2 `__init__.py:188-198`: "can select
  * different codecs/filters for different chunks"), and the same
  * measured-cost-model pattern as the reference's gather-vs-scan
  * planner constants (`ctable_indexing.py:238-242`).
  *
  * For each column chunk: take a deterministic sample, trial-encode it
  * under each candidate plan, and pick the plan minimizing
  * `sampleCBytes + timeWeight * nanos`. Deterministic for a given chunk
  * (no wall-clock in the cost by default), so Spark task retries
  * produce identical output.
  */
object Selector {

  /** Trial-encode sample bounds. Rows for fixed-width vectors; for
    * var-length vectors the sample is additionally BYTE-bounded so wide
    * values (multi-KB source files) don't make the trials cost more
    * than the real encode (same motivation as the reference capping its
    * STUNE trial buffers, python-blosc2 core.py:1621-1640).
    */
  val SAMPLE_MIN = 64
  val SAMPLE_MAX = 4096
  val SAMPLE_BYTES_MAX: Long = 256 * 1024

  val ZSTD_LEVEL = 3
  /** matches the reference's default clevel (python-blosc2 storage.py:74-76) */
  val ZSTD_HIGH = 5

  def candidatesFor(vec: ColVec): Seq[Plan] = vec match {
    case v: LongVec =>
      if (isConst(v)) Seq(Plan(Method.CONST, Entropy.NONE))
      else Seq(
        Plan(Method.RLE, Entropy.NONE),
        Plan(Method.DELTA_PACK, Entropy.NONE),
        Plan(Method.FOR_PACK, Entropy.NONE),
        Plan(Method.DELTA_PACK, Entropy.ZSTD, ZSTD_LEVEL),
        Plan(Method.PLAIN, Entropy.ZSTD, ZSTD_LEVEL)
      )
    case v: DoubleVec =>
      if (isConstD(v)) Seq(Plan(Method.CONST, Entropy.NONE))
      else Seq(
        // decimal-like chunks collapse under ALP (scaled longs + FOR);
        // true floating-point noise degrades to exceptions and loses
        // the trial to SHUFFLE on size — both compete in the cost model
        Plan(Method.ALP, Entropy.NONE),
        Plan(Method.ALP, Entropy.ZSTD, ZSTD_LEVEL),
        Plan(Method.SHUFFLE, Entropy.ZSTD, ZSTD_LEVEL),
        Plan(Method.SHUFFLE, Entropy.LZ4),
        Plan(Method.PLAIN, Entropy.ZSTD, ZSTD_LEVEL)
      )
    case v: BinVec =>
      // user-registered plugin codecs compete in the same cost model
      // (reference register_codec semantics)
      lazy val pluginPlans = CodecRegistry.offeredBin(v).flatMap { case (id, k) => k.plans(id) }
      if (isConstB(v)) Seq(Plan(Method.CONST, Entropy.NONE))
      else if (v.elemWidth > 0)
        // fixed-width element payloads (packed numeric arrays): byte-plane
        // transpose (blosc2 SHUFFLE with typesize=elemWidth) + entropy
        Seq(
          Plan(Method.SHUFFLE, Entropy.ZSTD, ZSTD_LEVEL),
          Plan(Method.SHUFFLE, Entropy.LZ4),
          Plan(Method.PLAIN, Entropy.ZSTD, ZSTD_LEVEL)
        ) ++ pluginPlans
      else {
        val card = sampleCardinality(v)
        if (card.lowCardinality)
          Seq(
            Plan(Method.DICT, Entropy.ZSTD, ZSTD_LEVEL),
            Plan(Method.DICT, Entropy.NONE),
            Plan(Method.PLAIN, Entropy.ZSTD, ZSTD_HIGH)
          ) ++ pluginPlans
        else {
          // small byte alphabet (hex commits, base32 ids…) → bit-pack;
          // validated on the FULL chunk so the encode can't fail later
          val pack =
            if (sampleAlphabet(v) <= 20 && fullAlphabet(v) <= 64)
              Seq(Plan(Method.BYTEPACK, Entropy.NONE), Plan(Method.BYTEPACK, Entropy.ZSTD, ZSTD_LEVEL))
            else Seq.empty
          // size-only cost model: plain+zstd3/lz4 are dominated by
          // plain+zstd5, so they are not offered
          pack ++ Seq(
            Plan(Method.FSST, Entropy.ZSTD, ZSTD_HIGH),
            Plan(Method.FSST, Entropy.ZSTD, ZSTD_LEVEL),
            Plan(Method.PLAIN, Entropy.ZSTD, ZSTD_HIGH)
          ) ++ pluginPlans
        }
      }
  }

  /** Cost model: size + priced CPU time, with DETERMINISTIC per-plan
    * time constants (ns per input byte, measured single-core; perfbench's
    * traced run reports them as `codecs.encode_ns_per_b.<plan>`) instead
    * of wall-clock, so task retries choose identical plans. Same pattern
    * as the reference's measured planner constants
    * (python-blosc2 ctable_indexing.py:238-242).
    *
    * The constants are FROZEN: they decide plans, and plans decide the
    * stored bytes, so a codec speed-up must not move them (that would
    * change output the byte pins guard). Recalibrating them from
    * measured rates is ROADMAP direction 1's job.
    */
  def nsPerByte(p: Plan): Double = {
    val m: Double = p.method match {
      case Method.FSST => 9.7 // ~103 MB/s measured (flat-slab word-compare dispatch)
      case Method.DICT => 8.0
      case Method.BYTEPACK => 5.0
      case Method.RLE | Method.FOR_PACK | Method.DELTA_PACK | Method.SHUFFLE => 2.0
      case Method.ALP => 2.5 // mult+round+div verify per value
      case id if CodecRegistry.isPluginId(id) =>
        CodecRegistry.binKernel(id).map(_.nsPerByte).getOrElse(8.0)
      case _ => 0.5
    }
    val e: Double = p.entropy match {
      case Entropy.ZSTD => if (p.level >= 5) 11.0 else 6.5 // 87 / 155 MB/s measured
      case Entropy.LZ4 => 2.0
      case _ => 0.0
    }
    m + e
  }

  /** Price of one ns of core time, in bytes of storage: 1 core-second
    * buys 0.5 MB. Size-leaning: the north rule's hard gate is total
    * compressed size ≤ the blosc2 baseline; CPU still breaks near-ties
    * (keeps bytepack over zstd-5 for hex, drops hopeless candidates).
    */
  val TIME_PRICE = 0.0005

  /** When the two best plans are within this factor on the small
    * sample, escalate to a large sample. Needed because zstd's match
    * window covers a small sample entirely (flattering PLAIN+zstd) but
    * not a 16 MB chunk, where FSST's global symbol table wins —
    * measured crossover ≈ 1–1.5 MB of sample.
    */
  val ESCALATE_MARGIN = 1.06
  val LARGE_SAMPLE_BYTES: Long = 3L * 512 * 1024

  private def vecBytes(s: ColVec): Long = s match {
    case v: BinVec =>
      var t = 0L; var i = 0
      while (i < v.n) { val x = v.values(i); if (x != null) t += x.length; i += 1 }
      t
    case v => v.n * 8L
  }

  /** Trial-encode every plan on `s`, handing `f` each plan's index and
    * `ChunkCodec.encode(s, plan)` (None when that encode failed). Each
    * same-method group shares ONE method stage (ChunkCodec.encodeEach);
    * a group whose shared encode fails is retried plan by plan, so a
    * failure demotes only the plans it belongs to. Fatal errors
    * (OutOfMemoryError, a killed task's InterruptedException) propagate.
    */
  private def trialEncodes(s: ColVec, plans: IndexedSeq[Plan])(f: (Int, Option[Array[Byte]]) => Unit): Unit =
    plans.map(_.method).distinct.foreach { m =>
      val group = plans.indices.filter(i => plans(i).method == m)
      val shared = try Some(ChunkCodec.encodeEach(s, group.map(plans))) catch { case NonFatal(_) => None }
      group.indices.foreach { j =>
        val bytes = shared match {
          case Some(all) => Some(all(j))
          case None if group.length == 1 => None
          case None => try Some(ChunkCodec.encode(s, plans(group(j)))) catch { case NonFatal(_) => None }
        }
        f(group(j), bytes)
      }
    }

  /** A chosen plan, plus the chunk's encode under it when a trial
    * already produced one — its input was the whole chunk — so the
    * caller can skip the real encode.
    */
  final case class Choice(plan: Plan, encoded: Option[Array[Byte]])

  /** Pick the best plan for this chunk: trial-encode a small sample,
    * escalating near-ties to a large sample (two-stage STUNE).
    */
  def choose(vec: ColVec): Plan = chooseEncoded(vec).plan

  /** [[choose]], keeping the winning trial's bytes when they are the
    * chunk's encode.
    */
  def chooseEncoded(vec: ColVec): Choice = {
    val cands = candidatesFor(vec).toIndexedSeq
    if (cands.length == 1) return Choice(cands.head, None)
    val s = sampleVec(vec)
    val sBytes = vecBytes(s)
    val costs = new Array[Double](cands.length)
    // only the best-so-far bytes are kept (ties go to the earlier
    // candidate, as the stable sort below ranks them)
    var kept = -1
    var keptBytes: Option[Array[Byte]] = None
    trialEncodes(s, cands) { (i, bytes) =>
      costs(i) = bytes.fold(Double.MaxValue)(_.length.toDouble + nsPerByte(cands(i)) * sBytes * TIME_PRICE)
      if (kept < 0 || costs(i) < costs(kept) || (costs(i) == costs(kept) && i < kept)) {
        kept = i
        keptBytes = if (s eq vec) bytes else None
      }
    }
    val order = cands.indices.sortBy(i => costs(i))
    if (order.length >= 2 && costs(order(1)) <= costs(order(0)) * ESCALATE_MARGIN && vec.n > s.n) {
      val big = largeSample(vec)
      if (big.n > s.n) {
        val bBytes = vecBytes(big)
        val finalists = IndexedSeq(cands(order(0)), cands(order(1)))
        // same-method finalists (the common fsst+zstd5 vs fsst+zstd3
        // tie) rank on payload bytes: their headers are equal length
        val same = finalists(0).method == finalists(1).method
        // largeSample keeps every row, in order, when it covers them all
        val whole = big.n == vec.n
        val bigBytes = Array.fill[Option[Array[Byte]]](2)(None)
        val bigCosts = new Array[Double](2)
        trialEncodes(big, finalists) { (i, bytes) =>
          if (whole) bigBytes(i) = bytes
          bigCosts(i) = bytes.fold(Double.MaxValue) { b =>
            (if (same) ChunkCodec.payloadLen(b) else b.length).toDouble +
              nsPerByte(finalists(i)) * bBytes * TIME_PRICE
          }
        }
        val w = if (bigCosts(0) <= bigCosts(1)) 0 else 1
        return Choice(finalists(w), bigBytes(w))
      }
    }
    Choice(cands(order(0)), keptBytes)
  }

  /** Large sample: 8 evenly spaced CONTIGUOUS runs totaling up to
    * LARGE_SAMPLE_BYTES — contiguity preserves the cross-value
    * redundancy the entropy stage sees on the real chunk.
    */
  def largeSample(vec: ColVec): ColVec = vec match {
    case v: BinVec =>
      val n = v.n
      val groups = 8
      val perGroup = LARGE_SAMPLE_BYTES / groups
      val out = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
      val vl = scala.collection.mutable.ArrayBuffer[Boolean]()
      var g = 0
      while (g < groups) {
        var i = (n.toLong * g / groups).toInt
        var t = 0L
        while (i < n && t < perGroup && (g == groups - 1 || i < (n.toLong * (g + 1) / groups).toInt)) {
          val x = v.values(i)
          out += x
          if (v.validity != null) vl += v.validity(i)
          if (x != null) t += x.length
          i += 1
        }
        g += 1
      }
      BinVec(out.toArray, if (v.validity == null) null else vl.toArray, v.elemWidth)
    case other => sampleVec(other)
  }

  /** Deterministic strided sample of the chunk. */
  def sampleVec(vec: ColVec): ColVec = {
    val n = vec.n
    var target = math.min(SAMPLE_MAX, math.max(SAMPLE_MIN, n / 16))
    vec match {
      case v: BinVec =>
        var total = 0L
        var i = 0
        while (i < n) { val x = v.values(i); if (x != null) total += x.length; i += 1 }
        if (total > 0) {
          val avg = math.max(1L, total / n)
          val byRows = (SAMPLE_BYTES_MAX / avg).toInt
          target = math.max(SAMPLE_MIN, math.min(target, byRows))
        }
      case _ =>
    }
    if (n <= target) return vec
    val step = n.toDouble / target
    vec match {
      case v: LongVec =>
        val out = new Array[Long](target)
        val vl = pickValidity(v.validity, n, target, step)
        var i = 0
        while (i < target) { out(i) = v.values((i * step).toInt); i += 1 }
        LongVec(out, vl)
      case v: DoubleVec =>
        val out = new Array[Double](target)
        val vl = pickValidity(v.validity, n, target, step)
        var i = 0
        while (i < target) { out(i) = v.values((i * step).toInt); i += 1 }
        DoubleVec(out, vl)
      case v: BinVec =>
        val out = new Array[Array[Byte]](target)
        val vl = pickValidity(v.validity, n, target, step)
        var i = 0
        while (i < target) { out(i) = v.values((i * step).toInt); i += 1 }
        BinVec(out, vl, v.elemWidth)
    }
  }

  private def pickValidity(validity: Array[Boolean], n: Int, target: Int, step: Double): Array[Boolean] = {
    if (validity == null) return null
    val out = new Array[Boolean](target)
    var i = 0
    while (i < target) { out(i) = validity((i * step).toInt); i += 1 }
    out
  }

  final case class CardInfo(distinct: Int, sampled: Int) {
    def lowCardinality: Boolean = distinct.toDouble <= math.max(16.0, sampled * 0.25)
  }

  /** Distinct byte values in the sample (strided). */
  def sampleAlphabet(v: BinVec): Int = {
    val seen = new Array[Boolean](256)
    var count = 0
    val n = v.n
    val step = math.max(1, n / 256)
    var i = 0
    while (i < n) {
      val x = v.values(i)
      if (x != null) {
        var j = 0
        while (j < x.length) {
          val b = x(j) & 0xff
          if (!seen(b)) { seen(b) = true; count += 1 }
          j += 1
        }
      }
      i += step
    }
    count
  }

  /** Distinct byte values over the WHOLE chunk (validation before
    * committing to BYTEPACK). Early-exits once the bound is crossed.
    */
  def fullAlphabet(v: BinVec, bound: Int = 64): Int = {
    val seen = new Array[Boolean](256)
    var count = 0
    var i = 0
    while (i < v.n) {
      val x = v.values(i)
      if (x != null) {
        var j = 0
        while (j < x.length) {
          val b = x(j) & 0xff
          if (!seen(b)) {
            seen(b) = true; count += 1
            if (count > bound) return count
          }
          j += 1
        }
      }
      i += 1
    }
    count
  }

  def sampleCardinality(v: BinVec): CardInfo = {
    val n = v.n
    val target = math.min(1024, n)
    if (target == 0) return CardInfo(0, 0)
    val step = math.max(1, n / target)
    val seen = new scala.collection.mutable.HashSet[String]()
    var i = 0
    var sampled = 0
    while (i < n) {
      val x = v.values(i)
      if (x != null) seen += new String(x, java.nio.charset.StandardCharsets.ISO_8859_1)
      sampled += 1
      i += step
    }
    CardInfo(seen.size, sampled)
  }

  private def isConst(v: LongVec): Boolean = {
    if (v.n == 0) return false
    if (v.validity != null) return false
    val h = v.values(0)
    var i = 1
    while (i < v.n) { if (v.values(i) != h) return false; i += 1 }
    true
  }

  private def isConstD(v: DoubleVec): Boolean = {
    if (v.n == 0) return false
    if (v.validity != null) return false
    val h = java.lang.Double.doubleToRawLongBits(v.values(0))
    var i = 1
    while (i < v.n) { if (java.lang.Double.doubleToRawLongBits(v.values(i)) != h) return false; i += 1 }
    true
  }

  private def isConstB(v: BinVec): Boolean = {
    if (v.n == 0) return false
    if (v.validity != null) return false
    val h = v.values(0)
    var i = 1
    while (i < v.n) {
      if (!java.util.Arrays.equals(v.values(i), h)) return false
      i += 1
    }
    true
  }
}
