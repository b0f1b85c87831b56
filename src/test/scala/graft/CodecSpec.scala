package graft

import graft.codecs._
import graft.core.{BitPack, Bytes}
import graft.corpus.Corpus
import graft.encode.{CodeFile, Selector, TableCodec}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

/** Roundtrip unit tests for every codec kernel — the reference's core
  * oracle pattern (python-blosc2 tests/test_compress2.py:58-76: compress
  * then decompress, assert byte equality), crossed over the FIXTURES.md
  * §2 micro fixtures.
  */
class CodecSpec extends SparkTestBase {

  private val rnd = new java.util.Random(42)

  // ---------------------------------------------------------- bit packing

  test("bitpack roundtrips all widths") {
    for (width <- 0 to 64) {
      val n = 1000 + width
      val vs = Array.fill(n) {
        if (width == 0) 0L
        else if (width == 64) rnd.nextLong()
        else rnd.nextLong() & ((1L << width) - 1)
      }
      val w = new Bytes.Writer()
      BitPack.pack(vs, 0, n, width, w)
      val r = new Bytes.Reader(w.result())
      val out = new Array[Long](n)
      BitPack.unpack(r, n, width, out, 0)
      assert(out.toSeq == vs.toSeq, s"width=$width")
    }
  }

  test("varints roundtrip extremes") {
    val vals = Seq(0L, 1L, -1L, 127L, 128L, Long.MaxValue, Long.MinValue, 42L, -300L)
    val w = new Bytes.Writer()
    vals.foreach(w.putSVarLong)
    val r = new Bytes.Reader(w.result())
    vals.foreach(v => assert(r.getSVarLong() == v))
  }

  test("getVarInt rejects a varint with a bit set above bit 31") {
    val ints = Seq(0, 1, Int.MaxValue, Int.MinValue, -1)
    val w = new Bytes.Writer()
    ints.foreach(w.putVarInt)
    val r = new Bytes.Reader(w.result())
    ints.foreach(v => assert(r.getVarInt() == v))
    for (v <- Seq(1L << 32, Long.MaxValue, -1L)) {
      val big = new Bytes.Writer()
      big.putVarLong(v)
      intercept[IllegalArgumentException](new Bytes.Reader(big.result()).getVarInt())
    }
  }

  test("getVarLong rejects an 11th byte and a 10th byte above 0x01") {
    for (v <- Seq(-1L, Long.MinValue, Long.MaxValue)) {
      val w = new Bytes.Writer()
      w.putVarLong(v)
      assert(new Bytes.Reader(w.result()).getVarLong() == v)
    }
    val eleven = Array.fill(10)(0x80.toByte) :+ 0x01.toByte
    val tenthHigh = Array.fill(9)(0xff.toByte) :+ 0x02.toByte
    for (bad <- Seq(eleven, tenthHigh))
      intercept[IllegalArgumentException](new Bytes.Reader(bad).getVarLong())
  }

  private val entropyRaw = Array.tabulate[Byte](4000)(i => (i % 97).toByte)

  test("a zstd frame that decodes short of its recorded length throws") {
    val comp = Entropy.compress(Entropy.ZSTD, 3, entropyRaw)
    assert(Entropy.decompress(Entropy.ZSTD, comp, entropyRaw.length).sameElements(entropyRaw))
    val short = Entropy.compress(Entropy.ZSTD, 3, entropyRaw.take(10))
    intercept[IllegalStateException](Entropy.decompress(Entropy.ZSTD, short, 20))
  }

  test("a short or truncated lz4 body throws instead of crashing the JVM") {
    val comp = Entropy.compress(Entropy.LZ4, 3, entropyRaw)
    assert(Entropy.decompress(Entropy.LZ4, comp, entropyRaw.length).sameElements(entropyRaw))
    val short = Entropy.compress(Entropy.LZ4, 3, entropyRaw.take(10))
    intercept[IllegalStateException](Entropy.decompress(Entropy.LZ4, short, 20))
    for (cut <- Seq(1, 2, comp.length / 2))
      intercept[Exception](Entropy.decompress(Entropy.LZ4, comp.dropRight(cut), entropyRaw.length))
  }

  // ------------------------------------------------------------ fixtures

  private def arangeLongs(n: Int) = Array.tabulate(n)(_.toLong)
  private def constantBlock(n: Int) = Array.fill(n)(123456789L)
  private def lowCardStrings(n: Int): Array[Array[Byte]] = {
    val pool = Array.tabulate(20)(i => s"lang-val-$i".getBytes("UTF-8"))
    Array.tabulate(n)(i => pool((math.pow(rnd.nextDouble(), 3) * 20).toInt.min(19)))
  }
  private def keywordText(n: Int): Array[Array[Byte]] =
    Array.tabulate(n)(i => graft.corpus.Corpus.content(i.toLong * 7 + 1, "c").take(400).getBytes("UTF-8"))
  private def hexCommits(n: Int): Array[Array[Byte]] =
    Array.tabulate(n) { i =>
      val sb = new StringBuilder
      var h = graft.corpus.Corpus.mix(i.toLong)
      for (j <- 0 until 40) {
        if (j % 15 == 0) h = graft.corpus.Corpus.mix(h ^ j)
        sb.append("0123456789abcdef".charAt(((h >>> ((j % 15) * 4)) & 0xf).toInt))
      }
      sb.toString.getBytes("UTF-8")
    }

  private def roundtripLong(vs: Array[Long], m: Byte, e: Byte = Entropy.NONE): Unit = {
    val block = ChunkCodec.encode(LongVec(vs), Plan(m, e))
    val out = ChunkCodec.decode(block).asInstanceOf[LongVec]
    assert(out.values.toSeq == vs.toSeq, s"method=$m entropy=$e")
  }

  private def roundtripBin(vs: Array[Array[Byte]], m: Byte, e: Byte = Entropy.NONE): Unit = {
    val block = ChunkCodec.encode(BinVec(vs), Plan(m, e))
    val out = ChunkCodec.decode(block).asInstanceOf[BinVec]
    assert(out.values.length == vs.length)
    for (i <- vs.indices)
      assert(java.util.Arrays.equals(out.values(i), vs(i)), s"method=$m row $i")
  }

  // ------------------------------------------------------- long kernels

  test("long kernels roundtrip on all fixtures × entropies") {
    val fixtures = Seq(
      arangeLongs(5000),
      constantBlock(5000),
      Array.fill(5000)(rnd.nextLong()),
      Array.tabulate(5000)(i => (i / 100).toLong), // runs
      Array.tabulate(5000)(i => rnd.nextInt(1 << 12).toLong), // small ints
      Array[Long](),
      Array(42L)
    )
    val smallIntsWithOutlier = Array.tabulate(5000)(i => rnd.nextInt(1 << 12).toLong)
    smallIntsWithOutlier(2500) = 1L << 62
    val extremes = Array(Long.MinValue, Long.MaxValue, 0L, -1L, 1L, Long.MinValue / 2, Long.MaxValue / 2)
    for (vs <- fixtures ++ Seq(smallIntsWithOutlier, extremes);
         m <- Seq(Method.PLAIN, Method.RLE, Method.FOR_PACK, Method.DELTA_PACK);
         e <- Seq(Entropy.NONE, Entropy.LZ4, Entropy.ZSTD))
      roundtripLong(vs, m, e)
  }

  test("const long chunk stores almost nothing") {
    val block = ChunkCodec.encode(LongVec(constantBlock(65536)), Plan(Method.CONST, Entropy.NONE))
    assert(block.length < 32)
    assert(ChunkCodec.decode(block).asInstanceOf[LongVec].values.forall(_ == 123456789L))
  }

  test("arange compresses via delta to ~2 bits/value, ~nothing with zstd") {
    val vs = arangeLongs(65536)
    // zigzag(+1) = 2 → 2-bit residuals → n/4 bytes
    val block = ChunkCodec.encode(LongVec(vs), Plan(Method.DELTA_PACK, Entropy.NONE))
    assert(block.length < 65536 / 4 + 64, s"got ${block.length}")
    val zblock = ChunkCodec.encode(LongVec(vs), Plan(Method.DELTA_PACK, Entropy.ZSTD))
    assert(zblock.length < 300, s"constant-residual chunk should zstd to ~nothing, got ${zblock.length}")
    roundtripLong(vs, Method.DELTA_PACK)
  }

  // ----------------------------------------------------- double kernels

  test("double kernels roundtrip incl. NaN/Inf bit patterns") {
    val vs = Array(0.0, -0.0, 1.5, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.MinPositiveValue, math.Pi) ++
      Array.fill(1000)(rnd.nextGaussian() * 1e6)
    for (m <- Seq(Method.PLAIN, Method.SHUFFLE, Method.ALP); e <- Seq(Entropy.NONE, Entropy.ZSTD)) {
      val block = ChunkCodec.encode(DoubleVec(vs), Plan(m, e))
      val out = ChunkCodec.decode(block).asInstanceOf[DoubleVec]
      assert(vs.indices.forall(i =>
        java.lang.Double.doubleToRawLongBits(out.values(i)) == java.lang.Double.doubleToRawLongBits(vs(i))),
        s"m=$m e=$e")
    }
  }

  test("ALP: decimal doubles collapse to packed longs; noise degrades to exceptions") {
    // price-like fixture: RANDOM 2-decimal values in a bounded range
    // (lineitem prices) — random so the SHUFFLE+zstd comparison can't
    // ride arithmetic-progression byte-plane patterns
    val prices = Array.fill(20000)((rnd.nextInt(910000) + 90000) / 100.0)
    val alp = ChunkCodec.encode(DoubleVec(prices), Plan(Method.ALP, Entropy.NONE))
    val shuf = ChunkCodec.encode(DoubleVec(prices), Plan(Method.SHUFFLE, Entropy.ZSTD, 3))
    val out = ChunkCodec.decode(alp).asInstanceOf[DoubleVec]
    assert(prices.indices.forall(i => out.values(i) == prices(i)))
    // ~24 bits/value FOR-packed vs byte-planed zstd of the same data
    assert(alp.length < shuf.length, s"alp=${alp.length} shuffle=${shuf.length}")
    assert(alp.length < prices.length * 4, s"alp=${alp.length} (want < 4 B/value)")

    // the selector prefers ALP on decimal data, and its choice roundtrips
    val plan = graft.encode.Selector.choose(DoubleVec(prices))
    assert(plan.method == Method.ALP, plan.label)

    // sprinkle non-decimals: correctness holds, exceptions stay exact
    val dirty = prices.clone()
    dirty(7) = Double.NaN; dirty(100) = math.Pi; dirty(4000) = -0.0
    dirty(9999) = Double.NegativeInfinity; dirty(19999) = 1e300
    val block2 = ChunkCodec.encode(DoubleVec(dirty), Plan(Method.ALP, Entropy.NONE))
    val out2 = ChunkCodec.decode(block2).asInstanceOf[DoubleVec]
    assert(dirty.indices.forall(i =>
      java.lang.Double.doubleToRawLongBits(out2.values(i)) == java.lang.Double.doubleToRawLongBits(dirty(i))))

    // all-noise chunk: ALP must still roundtrip (100% exceptions), but
    // the selector must NOT pick it there
    val noise = Array.fill(5000)(rnd.nextGaussian())
    val out3 = ChunkCodec.decode(
      ChunkCodec.encode(DoubleVec(noise), Plan(Method.ALP, Entropy.NONE))).asInstanceOf[DoubleVec]
    assert(noise.indices.forall(i => out3.values(i) == noise(i)))
    assert(graft.encode.Selector.choose(DoubleVec(noise)).method != Method.ALP)

    // nulls ride the validity bitmap like every other method
    val withNulls = DoubleVec(prices.take(500), Array.tabulate(500)(_ % 7 != 0))
    val out4 = ChunkCodec.decode(
      ChunkCodec.encode(withNulls, Plan(Method.ALP, Entropy.NONE))).asInstanceOf[DoubleVec]
    assert((0 until 500).forall(i => if (i % 7 == 0) !out4.isValid(i) else out4.values(i) == prices(i)))
  }

  // -------------------------------------------------------- bin kernels

  test("bin kernels roundtrip on all string fixtures × entropies") {
    val fixtures = Seq(
      lowCardStrings(3000),
      keywordText(300),
      hexCommits(2000),
      Array[Array[Byte]](),
      Array("".getBytes("UTF-8")),
      Array.fill(100)("same".getBytes("UTF-8")),
      // binary-safe: all byte values incl. 0x00 and 0xFF (the FSST escape)
      Array.tabulate(300)(i => Array.tabulate(256)(j => ((i + j) % 256).toByte))
    )
    for (vs <- fixtures;
         m <- Seq(Method.PLAIN, Method.DICT, Method.FSST);
         e <- Seq(Entropy.NONE, Entropy.LZ4, Entropy.ZSTD))
      roundtripBin(vs, m, e)
  }

  test("dict on low-cardinality beats plain; fsst on keyword text beats plain") {
    val lc = lowCardStrings(5000)
    val plain = ChunkCodec.encode(BinVec(lc), Plan(Method.PLAIN, Entropy.NONE)).length
    val dict = ChunkCodec.encode(BinVec(lc), Plan(Method.DICT, Entropy.NONE)).length
    assert(dict < plain / 4, s"dict=$dict plain=$plain")

    val kt = keywordText(500)
    val plainK = ChunkCodec.encode(BinVec(kt), Plan(Method.PLAIN, Entropy.NONE)).length
    val fsst = ChunkCodec.encode(BinVec(kt), Plan(Method.FSST, Entropy.NONE)).length
    assert(fsst < plainK, s"fsst=$fsst plain=$plainK")
  }

  // ------------------------------------------------------------- nulls

  test("null-bearing chunks roundtrip with validity preserved") {
    val n = 1000
    val validity = Array.tabulate(n)(i => i % 7 != 0)
    val longs = LongVec(Array.tabulate(n)(_.toLong), validity)
    val out = ChunkCodec.decode(ChunkCodec.encode(longs, Plan(Method.DELTA_PACK, Entropy.ZSTD))).asInstanceOf[LongVec]
    assert(out.validity.toSeq == validity.toSeq)
    for (i <- 0 until n if validity(i)) assert(out.values(i) == i.toLong)

    val strs = BinVec(Array.tabulate(n)(i => if (validity(i)) s"v$i".getBytes("UTF-8") else null), validity)
    val outS = ChunkCodec.decode(ChunkCodec.encode(strs, Plan(Method.DICT, Entropy.NONE))).asInstanceOf[BinVec]
    for (i <- 0 until n)
      if (validity(i)) assert(new String(outS.values(i), "UTF-8") == s"v$i")
      else assert(outS.values(i) == null)
  }

  // ----------------------------------------------------------- selector

  test("selector picks sane plans per fixture (FIXTURES.md §2 table)") {
    import graft.encode.Selector
    assert(Selector.choose(LongVec(constantBlock(5000))).method == Method.CONST)
    val arangePlan = Selector.choose(LongVec(arangeLongs(5000)))
    assert(arangePlan.method == Method.DELTA_PACK || arangePlan.method == Method.FOR_PACK)
    val dictPlan = Selector.choose(BinVec(lowCardStrings(5000)))
    assert(dictPlan.method == Method.DICT)
    // hexCommits: 16-byte alphabet → bytepack (4 bits/char), never dict
    val hexPlan = Selector.choose(BinVec(hexCommits(3000)))
    assert(hexPlan.method == Method.BYTEPACK, hexPlan.label)
  }

  test("bytepack roundtrips and halves hex commits") {
    val hex = hexCommits(3000)
    for (e <- Seq(Entropy.NONE, Entropy.ZSTD)) roundtripBin(hex, Method.BYTEPACK, e)
    val packed = ChunkCodec.encode(BinVec(hex), Plan(Method.BYTEPACK, Entropy.NONE)).length
    val plain = ChunkCodec.encode(BinVec(hex), Plan(Method.PLAIN, Entropy.NONE)).length
    assert(packed < plain * 0.55, s"packed=$packed plain=$plain")
    // mixed/binary alphabet > 64 must be rejected by encode (selector
    // validates the full chunk before offering the plan)
    val binData = Array.tabulate(50)(i => Array.tabulate(100)(j => ((i * 7 + j) % 256).toByte))
    intercept[IllegalArgumentException] {
      ChunkCodec.encode(BinVec(binData), Plan(Method.BYTEPACK, Entropy.NONE))
    }
  }

  test("FSST dispatch equals a naive longest-match reference on adversarial tables (property)") {
    // Random symbol sets over a 3-letter alphabet force dense 2-byte
    // prefix collisions between 1/2-byte (shortCodes) and >=3-byte
    // (slab) symbols — exactly the split the flat-slab + first2
    // dispatch has to get right. Data adds a 4th letter so no-match
    // escape positions occur, and the tail exercises avail < 8 loads.
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 15) {
      val syms = scala.collection.mutable.LinkedHashSet[Vector[Byte]]()
      while (syms.size < 60) {
        val len = 1 + rnd.nextInt(8)
        syms += Vector.fill(len)(('a' + rnd.nextInt(3)).toByte)
      }
      val table = new Fsst.Table(syms.toArray.map(_.toArray))
      val data = Array.fill(1500)(('a' + rnd.nextInt(4)).toByte)
      def naive(pos: Int): Int = {
        var best = -1
        var c = 0
        while (c < table.symbols.length) {
          val s = table.symbols(c)
          if (pos + s.length <= data.length &&
            data.slice(pos, pos + s.length).sameElements(s) &&
            (best < 0 || s.length > (best & 0xff))) best = (c << 8) | s.length
          c += 1
        }
        best
      }
      val disp = table.dispatch
      var pos = 0
      while (pos < data.length) {
        assert(disp.longestMatch(data, pos) == naive(pos), s"trial $trial pos $pos")
        pos += 1
      }
    }
  }

  /** Plain reference FSST trainer: naive longest match, String-keyed
    * gains, one full stable sort per round — the ranking Fsst.train
    * must reproduce (bytes saved descending, then symbol bytes
    * ascending). Samples like Fsst.train: every max(1, n/64)-th value
    * until 32 KiB. Returns the symbols and the last round's number of
    * distinct candidates.
    */
  private def referenceTrain(vec: BinVec): (Seq[Seq[Byte]], Int) = {
    val sb = new java.io.ByteArrayOutputStream()
    val step = math.max(1, vec.n / 64)
    var i = 0
    while (i < vec.n && sb.size < (1 << 15)) {
      val v = vec.values(i)
      if (v != null) sb.write(v, 0, math.min(v.length, (1 << 15) - sb.size))
      i += step
    }
    val s = sb.toByteArray
    var symbols = Vector.empty[Array[Byte]]
    var candidates = 0
    for (_ <- 1 to 3) {
      def unitLen(pos: Int): Int = {
        var best = 1 // no symbol: escape + literal consumes one byte
        for (sym <- symbols if sym.length > best && pos + sym.length <= s.length) {
          var j = 0
          while (j < sym.length && s(pos + j) == sym(j)) j += 1
          if (j == sym.length) best = sym.length
        }
        best
      }
      val covered = scala.collection.mutable.HashMap[String, Long]()
      def bump(start: Int, len: Int): Unit = {
        val k = new String(s, start, len, ISO_8859_1)
        covered(k) = covered.getOrElse(k, 0L) + len
      }
      var pos = 0
      var prevStart = -1
      var prevLen = 0
      while (pos < s.length) {
        val len = unitLen(pos)
        bump(pos, len)
        if (prevStart >= 0 && prevLen + len <= Fsst.MAX_LEN) bump(prevStart, prevLen + len)
        prevStart = pos
        prevLen = len
        pos += len
      }
      candidates = covered.size
      val saved = covered.toSeq.map { case (k, c) => (k, if (k.length >= 2) c * (k.length - 1) / k.length else c) }
      symbols = saved.filter(_._2 > 0)
        .sortWith((a, b) => if (a._2 != b._2) a._2 > b._2 else a._1 < b._1)
        .take(Fsst.MAX_SYMBOLS)
        .map(_._1.getBytes(ISO_8859_1))
        .toVector
    }
    (symbols.map(_.toSeq), candidates)
  }

  test("FSST training matches a plain reference trainer (corpus and adversarial tie-dense chunks)") {
    def bin(vs: Seq[String]) = BinVec(vs.map(_.getBytes(UTF_8)).toArray)
    val corpus = for (seed <- Seq(3L, 101L); n <- Seq(40, 400)) yield {
      val files = (0 until n).map(i => Corpus.file(seed, i.toLong))
      Seq(bin(files.map(_.content)), bin(files.map(_.path)))
    }
    val g = new java.util.Random(5)
    // 3-letter alphabets: thousands of candidates, heavy saved-bytes ties
    val adversarial = Seq(20, 400, 3000).map { n =>
      bin(Seq.fill(n)(Seq.fill(1 + g.nextInt(40))(('a' + g.nextInt(3)).toChar).mkString))
    }
    val withNulls = BinVec(Array.tabulate(300)(i =>
      if (i % 4 == 0) null else s"k${i % 17}-${"xyz" * (i % 5)}".getBytes(UTF_8)),
      Array.tabulate(300)(_ % 4 != 0))
    // random bytes: more distinct candidates than the counter's initial
    // capacity, so its growth path runs
    val randomBytes = BinVec(Array.fill(3000)(Array.fill(30)(g.nextInt(256).toByte)))
    val edge = Seq(BinVec(Array.empty[Array[Byte]]), bin(Seq("a")), bin(Seq("", "ab", "")), withNulls, randomBytes)
    for ((vec, k) <- (corpus.flatten ++ adversarial ++ edge).zipWithIndex) {
      val (want, _) = referenceTrain(vec)
      assert(Fsst.train(vec).symbols.map(_.toSeq).toSeq == want, s"chunk $k")
    }
    adversarial.drop(1).foreach(v => assert(referenceTrain(v)._2 > Fsst.MAX_SYMBOLS))
  }

  /** Seeded Long, Double and Bin chunks, with and without nulls: n from
    * 1 through SAMPLE_MIN (the selector's sample IS the chunk) up to
    * wide-value text whose byte-bounded sample is a strict subset.
    */
  private def trialChunks(seed: Long): Seq[ColVec] = {
    val g = new java.util.Random(seed)
    for (n <- Seq(1, 17, Selector.SAMPLE_MIN, 150, 600); vl <- Seq(null, Array.fill(n)(g.nextInt(6) != 0))) yield {
      val files = Array.tabulate(n)(i => Corpus.file(seed, i.toLong))
      def bin(f: CodeFile => String) =
        BinVec(Array.tabulate(n)(i => if (vl != null && !vl(i)) null else f(files(i)).getBytes(UTF_8)), vl)
      Seq(
        LongVec(Array.fill(n)(g.nextInt(1 << g.nextInt(30)).toLong), vl),
        LongVec(Array.tabulate(n)(i => 1600000000000L + i * 1000L + g.nextInt(7)), vl),
        DoubleVec(Array.fill(n)((g.nextInt(910000) + 90000) / 100.0), vl),
        DoubleVec(Array.fill(n)(g.nextGaussian()), vl),
        bin(_.repo), bin(_.path), bin(_.commit), bin(_.lang)) ++
        (if (n <= 150) Seq(bin(_.content)) else Nil)
    }
  }.flatten

  test("selector trial bytes equal the real encode (property)") {
    var whole = 0
    var escalated = 0
    for (seed <- 1L to 3L; vec <- trialChunks(seed)) {
      // the shared method stage reproduces encode() plan by plan
      for ((_, group) <- Selector.candidatesFor(vec).groupBy(_.method)) {
        val shared = ChunkCodec.encodeEach(vec, group)
        group.zip(shared).foreach { case (p, b) =>
          assert(b.sameElements(ChunkCodec.encode(vec, p)), s"${p.label} n=${vec.n}")
        }
      }
      // trial bytes handed back with the plan ARE the chunk's encode
      val c = Selector.chooseEncoded(vec)
      assert(c.plan == Selector.choose(vec))
      c.encoded.foreach { b =>
        assert(b.sameElements(ChunkCodec.encode(vec, c.plan)), s"${c.plan.label} n=${vec.n}")
        if (Selector.sampleVec(vec) eq vec) whole += 1 else escalated += 1
      }
    }
    assert(whole > 0 && escalated > 0, s"whole=$whole escalated=$escalated")
  }

  test("every stored payload re-encodes byte for byte from its decoded vector and header plan") {
    val df = Corpus.generate(spark, nRows = 600, nParts = 3).toDF().selectExpr(
      "path", "lang", "IF(length(repo) % 5 = 0, NULL, content) AS content",
      "CAST(length(content) AS BIGINT) AS len",
      "IF(length(path) % 3 = 0, NULL, length(content) / 7.0D) AS ratio")
    val cols = TableCodec.encode(df, chunkRows = 64).collect().flatMap(_.cols)
    assert(cols.map(_.name).distinct.length == 5 && cols.length > 5 * 8)
    cols.foreach { c =>
      val again = ChunkCodec.encode(ChunkCodec.decode(c.payload), ChunkCodec.peekPlan(c.payload))
      assert(again.sameElements(c.payload), s"${c.name} ${c.plan}")
    }
  }

  test("selector choice always roundtrips (property)") {
    val gens = new java.util.Random(7)
    for (_ <- 0 until 20) {
      val n = 1 + gens.nextInt(2000)
      val vs = Array.fill(n)(gens.nextInt(1 << gens.nextInt(30)).toLong)
      val plan = graft.encode.Selector.choose(LongVec(vs))
      roundtripLong(vs, plan.method, plan.entropy)
    }
  }

  // ------------------------------------------- long-distance matching

  /** chunk-shaped values: ~8 KiB pseudo-text blobs, `dupFrac` of the
    * mass re-emitting an earlier value at long range (vendored-file
    * model)
    */
  private def dupHeavyValues(nVals: Int, dupFrac: Double): Array[Array[Byte]] = {
    val gens = new java.util.Random(11)
    val seen = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    Array.tabulate(nVals) { _ =>
      if (seen.nonEmpty && gens.nextDouble() < dupFrac) seen(gens.nextInt(seen.length))
      else {
        val b = new Array[Byte](6000 + gens.nextInt(4000))
        var j = 0
        while (j < b.length) { b(j) = ("resultbuffer index=${}\n".charAt(j % 23) ^ (gens.nextInt(8))).toByte; j += 1 }
        seen += b
        b
      }
    }
  }

  test("LDM: dup-gated wide window shrinks dup-heavy bodies, exact roundtrip either way") {
    // body-level A/B: >= LDM_MIN_BYTES of text with 30% exact-dup values
    val vals = dupHeavyValues(800, 0.30) // ~6.4 MB
    val body = new Bytes.Writer(8 << 20)
    vals.foreach(v => body.putBytes(v))
    val raw = java.util.Arrays.copyOf(body.rawBuffer, body.size)
    val off = Entropy.compressRange(Entropy.ZSTD, 3, raw, raw.length)
    val on = Entropy.compressRange(Entropy.ZSTD, 3, raw, raw.length, ldmHint = true)
    assert(on.length < off.length * 0.95, s"ldm=${on.length} plain=${off.length}")
    assert(Entropy.decompress(Entropy.ZSTD, on, raw.length).toSeq == raw.toSeq)
    assert(Entropy.decompress(Entropy.ZSTD, off, raw.length).toSeq == raw.toSeq)

    // hint: fires on the dup-heavy chunk, stays off on the dup-free one
    // (dup-free chunks keep the exact pre-LDM byte stream)
    assert(ChunkCodec.ldmHint(BinVec(vals)))
    assert(!ChunkCodec.ldmHint(BinVec(dupHeavyValues(800, 0.0))))

    // full chunk path through the hint: exact value roundtrip
    val block = ChunkCodec.encode(BinVec(vals), Plan(Method.PLAIN, Entropy.ZSTD, 3))
    val out = ChunkCodec.decode(block).asInstanceOf[BinVec]
    assert(out.n == vals.length)
    var i = 0
    while (i < vals.length) {
      assert(java.util.Arrays.equals(out.values(i), vals(i)), s"row $i")
      i += 1
    }
  }

  test("a decoded vector survives later decodes on the same thread (no scratch aliasing)") {
    // every compressed body decompresses into one per-thread scratch
    // buffer; a kernel that kept a view of it would see A's values
    // overwritten when B decodes into the same buffer
    val n = 2000
    val prices = Array.tabulate(50)(i => (i * 7919 % 91000 + 900) / 100.0)
    val smalls: Seq[(ColVec, Byte)] = Seq(
      BinVec(keywordText(n)) -> Method.PLAIN,
      BinVec(keywordText(n)) -> Method.FSST,
      BinVec(lowCardStrings(n)) -> Method.DICT,
      LongVec(Array.tabulate(n)(i => 1000000L + i * 37 % 1000)) -> Method.FOR_PACK,
      LongVec(Array.tabulate(n)(i => 1600000000000L + i * 1000L + i % 7)) -> Method.DELTA_PACK,
      DoubleVec(Array.tabulate(n)(i => prices(i % prices.length))) -> Method.ALP,
      DoubleVec(Array.tabulate(n)(_ * 0.25)) -> Method.SHUFFLE)
    val bigText = BinVec(keywordText(4 * n))
    val sha = graft.encode.ColBuilder.digestOf _
    for (e <- Seq(Entropy.ZSTD, Entropy.LZ4); (vecA, mA) <- smalls) {
      val blockA = ChunkCodec.encode(vecA, Plan(mA, e))
      // B: a larger body under a different plan
      val blockB = ChunkCodec.encode(bigText, Plan(if (mA == Method.FSST) Method.PLAIN else Method.FSST, e))
      for (blk <- Seq(blockA, blockB))
        assert(ChunkCodec.peekPlan(blk).entropy == e, s"m=$mA e=$e: body must be compressed")
      // decode B first so the scratch is already big enough: A and the
      // second B then land in the same buffer
      ChunkCodec.decode(blockB)
      val outA = ChunkCodec.decode(blockA)
      val outB = ChunkCodec.decode(blockB)
      assert(java.util.Arrays.equals(sha(outA), sha(vecA)), s"A m=$mA e=$e")
      assert(java.util.Arrays.equals(sha(outB), sha(bigText)), s"B m=$mA e=$e")
    }
  }
  test("a damaged header field is an IllegalStateException naming it, on decode and dictionary equality") {
    // 40 DICT strings, every 7th null (6 nulls), stored uncompressed
    val vals = Array.tabulate(40)(i => s"v${i % 3}".getBytes(UTF_8))
    val validity = Array.tabulate(40)(_ % 7 != 0)
    val block = ChunkCodec.encode(BinVec(vals, validity), Plan(Method.DICT, Entropy.NONE))
    val r = new Bytes.Reader(block, 6)
    val (n, nulls, rawLen) = (r.getVarInt(), r.getVarInt(), r.getVarInt())
    assert(n == 40 && nulls == 6 && rawLen == block.length - r.pos)
    def reheader(n2: Int, nulls2: Int, rawLen2: Int): Array[Byte] = {
      val w = new Bytes.Writer(32)
      w.putBytes(block, 0, 6); w.putVarInt(n2); w.putVarInt(nulls2); w.putVarInt(rawLen2)
      java.util.Arrays.copyOf(w.rawBuffer, w.size) ++ block.drop(r.pos)
    }
    assert(ChunkCodec.dictEqualityPositions(reheader(n, nulls, rawLen), Array("v1".getBytes(UTF_8)))
      .exists(_.toSeq == (0 until 40).filter(i => i % 3 == 1 && i % 7 != 0)))
    val damaged = Seq(
      "n = -1" -> reheader(-1, nulls, rawLen),
      "nulls = 41" -> reheader(n, n + 1, rawLen),
      "nulls = -1" -> reheader(n, -1, rawLen),
      "validity bitmap holds 6" -> reheader(n, nulls - 1, rawLen),
      s"rawLen = ${rawLen + 1}" -> reheader(n, nulls, rawLen + 1))
    for ((field, b) <- damaged) {
      val e1 = intercept[IllegalStateException](ChunkCodec.decode(b))
      val e2 = intercept[IllegalStateException](ChunkCodec.dictEqualityPositions(b, Array("v1".getBytes(UTF_8))))
      for (e <- Seq(e1, e2)) assert(e.getMessage.contains(field), s"$field: ${e.getMessage}")
    }
  }
}
