package graft.encode

import graft.codecs._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{SpecificInternalRow, UnsafeArrayData}
import org.apache.spark.sql.graftshim.InternalRowShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** DataFrame <-> Dataset[EncodedBlock]: the chunked per-column encode /
  * decode pipeline expressed as shuffle-free `mapPartitions` /
  * `flatMap` transforms.
  *
  * Each Spark partition is cut into chunks of at most CHUNK_ROWS rows or
  * CHUNK_BYTES raw bytes (mirroring the reference's chunk geometry:
  * 2^24-byte default chunks, python-blosc2 `schunk.py:400-411`); each
  * column slice gets its own auto-selected codec plan (Selector).
  *
  * The encode hot path consumes Catalyst InternalRows
  * (`queryExecution.toRdd`) — string bytes come straight out of the
  * UnsafeRow buffer (UTF8String.getBytes) with no char-set decode and
  * no external Row materialization, the same access level Spark's own
  * physical operators use.
  *
  * Scale notes: encode/decode/verify are embarrassingly parallel — no
  * shuffle, no driver traffic; state is O(chunk). At 1000 executors on
  * 100 TB the plan is a single mapPartitions stage over the scan.
  */
object TableCodec {

  val CHUNK_ROWS: Int = 1 << 16 // 64Ki rows
  /** 32 MiB raw (2x blosc2's 2^24 default): contention-aware sizing —
    * measured on this 32-core host, 16→32 MiB cuts encode CPU/GB from
    * 45 to 40 core-s (fewer selector trials + per-chunk table builds
    * per byte) at IDENTICAL compression ratio; larger FSST/DICT scope
    * can only help ratio. See BENCH/BASELINE.md round-2 table.
    */
  val CHUNK_BYTES: Long = 1L << 25

  /** Zone-map keys longer than this are dropped (minKey "" = -inf,
    * maxKey "" = +inf) — truncating a max bound would be incorrect, and
    * nobody range-prunes on multi-KB content values.
    */
  val ZONE_KEY_MAX = 64

  /** Per-chunk value-histogram cardinality cap (EncodedCol.hist). Low
    * enough that metadata stays tiny (≤ 64 entries × ~a dozen bytes per
    * chunk-column) and the builder's tracking map dies within the first
    * ~100 values on any high-cardinality column; high enough to cover
    * the enum-like columns (lang, source, status codes) a decode-free
    * group-by actually targets.
    */
  val HIST_MAX = 64

  private implicit val blockEnc: org.apache.spark.sql.Encoder[EncodedBlock] = Encoders.product[EncodedBlock]
  private implicit val verifyEnc: org.apache.spark.sql.Encoder[ChunkVerify] = Encoders.product[ChunkVerify]

  // ---------------------------------------------------------------- encode

  /** The column names the encoder will emit for `schema` (identity for
    * flat schemas; dotted leaf names once structs are flattened) —
    * what StoreLayout.write needs as its `names`.
    */
  def encodedNames(schema: StructType): Seq[String] = MetaIndex.flatOf(schema).fieldNames.toSeq

  /** Encode every column of df. `shardCol` (if set) names an int column
    * carrying the lineage shard id; it is consumed, not encoded.
    * Struct columns are flattened to dotted leaves first (Nested).
    */
  /** @param truncPrec OPT-IN lossy mantissa truncation per float/double
    *                   column (the reference's TRUNC_PREC filter,
    *                   python-blosc2 __init__.py:134-162): value →
    *                   number of mantissa bits to KEEP (1..52).
    *                   Truncation happens at the BUILDER, before the
    *                   zone keys and the roundtrip sha — the store's
    *                   bit-identity invariant then holds over the
    *                   QUANTIZED values (exactly the reference's
    *                   semantics: decompression returns the truncated
    *                   data), and the zeroed mantissa byte planes
    *                   collapse under SHUFFLE+entropy. Default: empty —
    *                   every column stays lossless.
    */
  def encode(
      df: DataFrame,
      chunkRows: Int = CHUNK_ROWS,
      chunkBytes: Long = CHUNK_BYTES,
      shardCol: Option[String] = None,
      truncPrec: Map[String, Int] = Map.empty
  ): Dataset[EncodedBlock] =
    df.sparkSession.createDataset(encodeRdd(df, chunkRows, chunkBytes, shardCol, truncPrec))

  /** The block RDD `encode` wraps: callers that tally blocks on their
    * way to the writer map over it without a typed Dataset.map, which
    * would deserialize and re-serialize every payload.
    */
  private[graft] def encodeRdd(
      df: DataFrame,
      chunkRows: Int = CHUNK_ROWS,
      chunkBytes: Long = CHUNK_BYTES,
      shardCol: Option[String] = None,
      truncPrec: Map[String, Int] = Map.empty
  ): org.apache.spark.rdd.RDD[EncodedBlock] = {
    val work = if (Nested.hasNested(df.schema)) Nested.flatten(df) else df
    val schema = work.schema
    truncPrec.keys.foreach(n => require(schema.fieldNames.contains(n),
      s"truncPrec names unknown column $n"))
    val shardIdx = shardCol.map(schema.fieldIndex)
    val dataFields = schema.fields.zipWithIndex.filter { case (_, i) => !shardIdx.contains(i) }
    work.queryExecution.toRdd.mapPartitions { rows =>
      encodePartition(rows, dataFields, shardIdx, chunkRows, chunkBytes, truncPrec)
    }
  }

  private def encodePartition(
      rows: Iterator[InternalRow],
      fields: Array[(StructField, Int)],
      shardIdx: Option[Int],
      chunkRows: Int,
      chunkBytes: Long,
      truncPrec: Map[String, Int] = Map.empty
  ): Iterator[EncodedBlock] = {
    val partId = TaskContext.getPartitionId()
    val builders = fields.map { case (f, _) => ColBuilder(f.dataType, truncPrec.getOrElse(f.name, 0)) }
    // Sticky plan memo: once a column chooses the SAME plan for
    // STICKY_AFTER consecutive chunks, skip the trial encodes and reuse
    // it, re-running the trials every REVALIDATE_EVERY chunks (a
    // disagreement resets the streak). Trials are most of the encode
    // CPU on small chunks: on perfbench's ingest op (~94-row chunks,
    // 4-core VM) the traced replay's `encode.selector_share` is ~0.6,
    // and FSST compress + training are ~35% of executor CPU samples
    // (it was 0.73, with FSST training at 38% and matcher builds at
    // 30% of samples, while every FSST plan trained its own table and
    // every matcher filled two 64Ki-entry tables). Real columns are
    // overwhelmingly plan-stable chunk to chunk. Deterministic per task
    // (the chunk sequence within a partition is fixed), so retries re-derive
    // identical plans. Methods whose validity is PER-CHUNK-validated
    // (BYTEPACK's alphabet bound, CONST, plugin kernels) are never
    // stuck — their trials always run.
    val STICKY_AFTER = 4
    val REVALIDATE_EVERY = 16
    val lastPlan = new Array[graft.codecs.Plan](fields.length)
    val agree = new Array[Int](fields.length)
    val sinceTrial = new Array[Int](fields.length)
    def stickable(p: graft.codecs.Plan): Boolean =
      p.method != graft.codecs.Method.BYTEPACK &&
        p.method != graft.codecs.Method.CONST &&
        !graft.codecs.CodecRegistry.isPluginId(p.method)
    def choosePlan(i: Int, vec: graft.codecs.ColVec): Selector.Choice =
      if (agree(i) >= STICKY_AFTER && sinceTrial(i) < REVALIDATE_EVERY) {
        sinceTrial(i) += 1
        Selector.Choice(lastPlan(i), None)
      } else {
        val c = Selector.chooseEncoded(vec)
        val p = c.plan
        if (p == lastPlan(i) && stickable(p)) agree(i) += 1
        else { agree(i) = 1; lastPlan(i) = if (stickable(p)) p else null }
        sinceTrial(i) = 0
        c
      }
    val planPrefix = fields.map { case (f, _) =>
      truncPrec.get(f.name).map(k => s"trunc$k+").getOrElse("")
    }
    val fieldIdx = fields.map(_._2)
    val shardAt = shardIdx.getOrElse(-1)
    var chunkId = 0L
    var curShard = 0
    var nRows = 0
    var rawBytes = 0L

    def flush(): Option[EncodedBlock] = {
      if (nRows == 0) None
      else {
        val cols = fields.indices.map { i =>
          val (f, _) = fields(i)
          val vec = builders(i).result()
          val Selector.Choice(plan, trialBytes) = choosePlan(i, vec)
          // a trial over the whole chunk already produced its encode
          val payload = trialBytes.getOrElse(ChunkCodec.encode(vec, plan))
          EncodedCol(
            name = f.name,
            dt = f.dataType.catalogString,
            plan = planPrefix(i) + plan.label,
            nBytes = builders(i).rawBytes,
            cBytes = payload.length.toLong,
            minKey = builders(i).minKey,
            maxKey = builders(i).maxKey,
            nNulls = builders(i).nNulls,
            sumKey = builders(i).sumKey,
            hist = builders(i).hist,
            sha = builders(i).digest(), // streamed in add(); == digestOf(vec)
            payload = payload
          )
        }
        val block = EncodedBlock(curShard, partId, chunkId, nRows, cols)
        chunkId += 1
        nRows = 0
        rawBytes = 0L
        builders.foreach(_.clear())
        Some(block)
      }
    }

    new Iterator[EncodedBlock] {
      private var pending: Option[EncodedBlock] = None
      private var done = false

      override def hasNext: Boolean = {
        if (pending.nonEmpty) return true
        if (done) return false
        while (rows.hasNext && pending.isEmpty) {
          val row = rows.next()
          val shard = if (shardAt >= 0) row.getInt(shardAt) else 0
          if (nRows > 0 && shard != curShard) pending = flush()
          curShard = shard
          var i = 0
          while (i < fieldIdx.length) {
            rawBytes += builders(i).add(row, fieldIdx(i))
            i += 1
          }
          nRows += 1
          if (pending.isEmpty && (nRows >= chunkRows || rawBytes >= chunkBytes)) pending = flush()
        }
        if (pending.isEmpty && !rows.hasNext) { pending = flush(); done = true }
        pending.nonEmpty
      }

      override def next(): EncodedBlock = {
        if (!hasNext) throw new NoSuchElementException
        val b = pending.get
        pending = None
        b
      }
    }
  }

  // ---------------------------------------------------------------- decode

  /** Every row of a block: the default selection of [[decode]]. */
  private val allRows: EncodedBlock => Array[Int] = _ => null

  /** Inverse of encode: rebuild the original rows (column order = the
    * order recorded in the blocks). Shuffle-free flatMap emitting
    * Catalyst InternalRows directly — string bytes become UTF8String
    * without a charset round-trip, timestamps stay micros longs,
    * packed arrays become UnsafeArrayData — no external-Row boxing and
    * no RowEncoder re-serialization on the hot path. When
    * `shardColName` is set, the block's lineage shard id is surfaced as
    * an extra int column (used by copy-on-write delete).
    *
    * `select` gives each block's row indexes to emit, in order — the
    * index-gather and dictionary-filter paths (cf. reference positional
    * gather, python-blosc2 ctable_indexing.py gather constants); null
    * emits every row, and an empty selection decodes no column.
    */
  def decode(blocks: Dataset[EncodedBlock], schema: StructType,
             shardColName: Option[String] = None,
             select: EncodedBlock => Array[Int] = allRows): DataFrame = {
    val flat = MetaIndex.flatOf(schema)
    val names = flat.fieldNames
    val dts = flat.fields.map(_.dataType)
    val outSchema = shardColName match {
      case Some(s) => StructType(flat.fields :+ StructField(s, IntegerType, nullable = false))
      case None => flat
    }
    val withShard = shardColName.nonEmpty
    val outTypes = outSchema.fields.map(_.dataType).toIndexedSeq
    val rdd = StoreLayout.blockRdd(blocks).mapPartitions { it =>
      // one mutable row per task, reused across every emitted row: the
      // planner's scan node (RDDScanExec) copies each row through an
      // UnsafeProjection before anything downstream sees it — the same
      // producer contract Spark's own Row-based sources rely on. This
      // removes the per-row Array[Any] + per-value box churn that made
      // decode GC-bound at the default heap.
      val row = new SpecificInternalRow(outTypes)
      it.flatMap(block => rowsOfBlock(block, names, dts, withShard, row, select(block)))
    }
    val df = InternalRowShim.createDataFrame(blocks.sparkSession, rdd, outSchema)
    if (flat eq schema) df else Nested.reassemble(df, schema, extraCols = shardColName.toSeq)
  }

  /** Decode one block into InternalRows: the rows at `positions`, in
    * that order, or every row when `positions` is null; no column is
    * decoded for an empty `positions`. Every decoded column must hold
    * exactly `block.nRows` values: a mismatch is a damaged block and
    * throws, never a dropped or out-of-range row.
    *
    * @param reuseRow every emitted row IS this instance, mutated in
    *                 place (valid only until the next `next()`), behind
    *                 `InternalRowShim.createDataFrame`'s scan node,
    *                 which projects each row to unsafe before anything
    *                 buffers it. When `withShard`, the row needs
    *                 `names.length + 1` fields.
    */
  private def rowsOfBlock(block: EncodedBlock, names: Array[String], dts: Array[DataType],
                          withShard: Boolean, reuseRow: SpecificInternalRow,
                          positions: Array[Int]): Iterator[InternalRow] = {
    if (positions != null && positions.isEmpty) return Iterator.empty
    val byName = block.cols.map(c => c.name -> c).toMap
    val vecs = names.map { n =>
      val v = decodeColumn(byName(n))
      if (v.n != block.nRows) throw new IllegalStateException(
        s"corrupt block (shard ${block.shard}, partId ${block.partId}, chunkId ${block.chunkId}): " +
          s"column $n decodes to ${v.n} rows, the block records ${block.nRows}")
      v
    }
    val writers = new Array[ColWriter](names.length)
    var c = 0
    while (c < names.length) { writers(c) = internalWriter(vecs(c), dts(c), c); c += 1 }
    if (withShard) reuseRow.setInt(names.length, block.shard)
    def fill(r: Int): InternalRow = {
      var i = 0
      while (i < writers.length) {
        if (vecs(i).isValid(r)) writers(i).write(reuseRow, r) else reuseRow.setNullAt(i)
        i += 1
      }
      reuseRow
    }
    if (positions == null) new Iterator[InternalRow] {
      private var r = 0
      def hasNext: Boolean = r < block.nRows
      def next(): InternalRow = { val row = fill(r); r += 1; row }
    } else positions.iterator.map(fill)
  }

  /** Unboxed per-column writer into a reused mutable row (an interface,
    * not a Function2, so the per-value call carries no Int boxing).
    */
  private trait ColWriter { def write(row: SpecificInternalRow, i: Int): Unit }

  private def internalWriter(vec: ColVec, dt: DataType, ord: Int): ColWriter = (vec, dt) match {
    case (v: LongVec, LongType | TimestampType | TimestampNTZType) =>
      new ColWriter { def write(row: SpecificInternalRow, i: Int): Unit = row.setLong(ord, v.values(i)) }
    case (v: LongVec, IntegerType | DateType) =>
      new ColWriter { def write(row: SpecificInternalRow, i: Int): Unit = row.setInt(ord, v.values(i).toInt) }
    case (v: LongVec, ShortType) =>
      new ColWriter { def write(row: SpecificInternalRow, i: Int): Unit = row.setShort(ord, v.values(i).toShort) }
    case (v: LongVec, ByteType) =>
      new ColWriter { def write(row: SpecificInternalRow, i: Int): Unit = row.setByte(ord, v.values(i).toByte) }
    case (v: LongVec, BooleanType) =>
      new ColWriter { def write(row: SpecificInternalRow, i: Int): Unit = row.setBoolean(ord, v.values(i) != 0L) }
    case (v: DoubleVec, DoubleType) =>
      new ColWriter { def write(row: SpecificInternalRow, i: Int): Unit = row.setDouble(ord, v.values(i)) }
    case (v: DoubleVec, FloatType) =>
      new ColWriter { def write(row: SpecificInternalRow, i: Int): Unit = row.setFloat(ord, v.values(i).toFloat) }
    case _ =>
      val g = internalGetter(vec, dt)
      new ColWriter { def write(row: SpecificInternalRow, i: Int): Unit = row.update(ord, g(i)) }
  }

  def decodeColumn(col: EncodedCol): ColVec = ChunkCodec.decode(col.payload)

  /** Column getter producing the Catalyst-internal value for `dt`, for
    * the types [[internalWriter]] does not write unboxed. Bound once per
    * (vec, column) so the per-row path is one virtual call, not a type
    * dispatch.
    */
  private def internalGetter(vec: ColVec, dt: DataType): Int => Any = (vec, dt) match {
    case (v: LongVec, d: DecimalType) => i => Decimal.createUnsafe(v.values(i), d.precision, d.scale)
    case (v: BinVec, StringType) => i => UTF8String.fromBytes(v.values(i))
    case (v: BinVec, BinaryType) => i => v.values(i)
    case (v: BinVec, d: DecimalType) =>
      i => Decimal(new java.math.BigDecimal(new java.math.BigInteger(v.values(i)), d.scale))
    case (v: BinVec, ArrayType(StringType, _)) => i => ArrayPack.unpackStrings(v.values(i))
    case (v: BinVec, MapType(StringType, StringType, _)) => i => ArrayPack.unpackMap(v.values(i))
    case (v: BinVec, ArrayType(et, _)) =>
      val w = ArrayPack.widthOf(et)
      et match {
        case FloatType => i => UnsafeArrayData.fromPrimitiveArray(ArrayPack.unpackFloats(v.values(i)))
        case DoubleType => i => UnsafeArrayData.fromPrimitiveArray(ArrayPack.unpackDoubles(v.values(i)))
        case IntegerType => i => UnsafeArrayData.fromPrimitiveArray(ArrayPack.unpackInts(v.values(i)))
        case LongType => i => UnsafeArrayData.fromPrimitiveArray(ArrayPack.unpackLongs(v.values(i)))
        case t => throw new IllegalArgumentException(s"array element type $t (width $w)")
      }
    case (v, t) => throw new IllegalArgumentException(s"decode ${v.getClass.getSimpleName} as $t")
  }

  // ---------------------------------------------------------------- verify

  /** Re-decode every block and compare each column's recomputed digest
    * with the digest captured at encode time — the sha256 roundtrip
    * invariant, per chunk, without storing per-row hashes.
    */
  def verify(blocks: Dataset[EncodedBlock]): Dataset[ChunkVerify] = {
    blocks.flatMap { block =>
      block.cols.map { col =>
        val vec = ChunkCodec.decode(col.payload)
        val sha = ColBuilder.digestOf(vec)
        ChunkVerify(block.shard, block.partId, block.chunkId, col.name,
          block.nRows, java.util.Arrays.equals(sha, col.sha) && vec.n == block.nRows)
      }
    }
  }
}

/** Per-column accumulation during encode: values + running stats
  * (min/max zone map, logical byte size). Unboxed growable arrays — no
  * per-value boxing on the hot path. The stats mirror the reference's
  * per-chunk summary accumulator (python-blosc2 `ctable.py:3812`).
  */
sealed trait ColBuilder {
  def add(row: InternalRow, idx: Int): Long // returns raw bytes added
  def result(): ColVec
  def clear(): Unit
  def rawBytes: Long
  def minKey: String
  def maxKey: String

  /** Null count of the slice (exact, every builder). */
  def nNulls: Int

  /** Exact sum of the non-null values in the zone domain, "" when
    * undefined (see EncodedCol.sumKey). Only the long-backed builders
    * produce one — a float sum is order-dependent, so a stored double
    * sum could not be served as THE exact answer.
    */
  def sumKey: String

  /** Bounded value histogram (see EncodedCol.hist), empty when dead. */
  def hist: Map[String, Long]

  /** sha256 of the values added since the last clear — STREAMED inside
    * [[add]] while the bytes are still cache-hot, byte-for-byte
    * identical to `ColBuilder.digestOf(result())` (which re-walks the
    * finished chunk: a pure-DRAM re-read of every chunk at flush time
    * that measurably fed the 32-thread bandwidth ceiling).
    */
  def digest(): Array[Byte]
}

object ColBuilder {

  /** Internal long-backed kinds: how to pull the value out of the
    * InternalRow and how many logical bytes it is. Mirrors the
    * reference's width coverage (python-blosc2 schema.py:122-272:
    * int8..64, bool, timestamp(unit), date, fixed decimals).
    */
  private object LKind {
    val LONG = 0; val INT = 1; val SHORT = 2; val BYTE = 3
    val BOOL = 4; val DATE = 5; val TS = 6; val DEC = 7
  }
  private object BKind {
    val STRING = 0; val BINARY = 1; val DECIMAL = 2; val ARRAY = 3; val MAP = 4
  }

  def apply(dt: DataType, truncBits: Int = 0): ColBuilder = {
    require(truncBits == 0 || (truncBits >= 1 && truncBits <= 52 &&
      (dt == DoubleType || dt == FloatType)),
      s"TRUNC_PREC keeps 1..52 mantissa bits and only applies to float/double, got $truncBits for $dt")
    applyKind(dt, truncBits)
  }

  private def applyKind(dt: DataType, truncBits: Int): ColBuilder = dt match {
    case LongType => new LongBuilder(LKind.LONG, 8)
    case IntegerType => new LongBuilder(LKind.INT, 4)
    case ShortType => new LongBuilder(LKind.SHORT, 2)
    case ByteType => new LongBuilder(LKind.BYTE, 1)
    case BooleanType => new LongBuilder(LKind.BOOL, 1) // 0/1 → FOR bit-pack = bitmap
    case DateType => new LongBuilder(LKind.DATE, 4) // days since epoch
    case TimestampType | TimestampNTZType => new LongBuilder(LKind.TS, 8) // micros → DELTA_PACK
    case d: DecimalType if d.precision <= Decimal.MAX_LONG_DIGITS =>
      new LongBuilder(LKind.DEC, 8, d.precision, d.scale) // unscaled long
    case DoubleType => new DoubleBuilder(isFloat = false, keepMantissa = truncBits)
    case FloatType => new DoubleBuilder(isFloat = true, keepMantissa = truncBits)
    case StringType => new BinBuilder(BKind.STRING)
    case BinaryType => new BinBuilder(BKind.BINARY)
    case d: DecimalType => new BinBuilder(BKind.DECIMAL, precision = d.precision, scale = d.scale)
    case ArrayType(et @ (FloatType | DoubleType | IntegerType | LongType), _) =>
      new BinBuilder(BKind.ARRAY, elemType = et) // packed fixed-width → byte-plane SHUFFLE
    case ArrayType(StringType, _) =>
      // varint lengths + element blobs, one binary per array value (the
      // reference's utf8 offsets+bytes layout, _utf8_array.py:9-31)
      new BinBuilder(BKind.ARRAY, elemType = StringType)
    case MapType(StringType, StringType, _) =>
      // interleaved [k0,v0,k1,v1,...] in the array<string> element
      // format — the binary codec chain (DICT/FSST/zstd) applies as-is
      new BinBuilder(BKind.MAP)
    case t => throw new IllegalArgumentException(s"unsupported column type $t")
  }

  /** Digest of a decoded vector — must match the encode-side digest. */
  def digestOf(vec: ColVec): Array[Byte] = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf8 = new Array[Byte](8)
    vec match {
      case v: LongVec =>
        var i = 0
        while (i < v.n) {
          if (!v.isValid(i)) md.update(0: Byte)
          else { md.update(1: Byte); putLong(buf8, v.values(i)); md.update(buf8) }
          i += 1
        }
      case v: DoubleVec =>
        var i = 0
        while (i < v.n) {
          if (!v.isValid(i)) md.update(0: Byte)
          else { md.update(1: Byte); putLong(buf8, java.lang.Double.doubleToRawLongBits(v.values(i))); md.update(buf8) }
          i += 1
        }
      case v: BinVec =>
        var i = 0
        while (i < v.n) {
          if (!v.isValid(i)) md.update(0: Byte)
          else {
            md.update(1: Byte)
            putLong(buf8, v.values(i).length.toLong)
            md.update(buf8)
            md.update(v.values(i))
          }
          i += 1
        }
    }
    md.digest()
  }

  @inline private def putLong(buf: Array[Byte], v: Long): Unit = {
    var i = 0
    while (i < 8) { buf(i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  private final class LongBuilder(kind: Int, width: Int, precision: Int = 0, scale: Int = 0) extends ColBuilder {
    private var values = new Array[Long](1024)
    private var n = 0
    private var validity: Array[Boolean] = null
    private var mn = Long.MaxValue
    private var mx = Long.MinValue
    private var nulls = 0
    private var sum = 0L
    private var sumDead = false // running sum overflowed Long
    private val histM = new scala.collection.mutable.LongMap[Long](TableCodec.HIST_MAX * 2)
    private var histDead = false // > HIST_MAX distinct values seen
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf8 = new Array[Byte](8)

    @inline private def ensure(): Unit = {
      if (n == values.length) {
        values = java.util.Arrays.copyOf(values, n * 2)
        if (validity != null) validity = java.util.Arrays.copyOf(validity, n * 2)
      }
    }

    def add(row: InternalRow, idx: Int): Long = {
      ensure()
      if (row.isNullAt(idx)) {
        if (validity == null) { validity = new Array[Boolean](values.length); java.util.Arrays.fill(validity, 0, n, true) }
        validity(n) = false
        values(n) = 0L
        nulls += 1
        md.update(0: Byte)
      } else {
        val v = kind match {
          case LKind.LONG | LKind.TS => row.getLong(idx)
          case LKind.INT | LKind.DATE => row.getInt(idx).toLong
          case LKind.SHORT => row.getShort(idx).toLong
          case LKind.BYTE => row.getByte(idx).toLong
          case LKind.BOOL => if (row.getBoolean(idx)) 1L else 0L
          case LKind.DEC => row.getDecimal(idx, precision, scale).toUnscaledLong
          case k => throw new IllegalStateException(s"LKind $k")
        }
        if (validity != null) validity(n) = true
        if (v < mn) mn = v
        if (v > mx) mx = v
        if (!sumDead) {
          // branch-free signed-overflow detect (Hacker's Delight §2-13):
          // overflow iff operands share a sign the result lost
          val s = sum + v
          if (((sum ^ s) & (v ^ s)) < 0L) sumDead = true else sum = s
        }
        if (!histDead) {
          val c = histM.getOrElse(v, 0L)
          if (c == 0L && histM.size >= TableCodec.HIST_MAX) histDead = true
          else histM(v) = c + 1L
        }
        values(n) = v
        md.update(1: Byte); putLong(buf8, v); md.update(buf8)
      }
      n += 1
      width.toLong
    }
    def result(): ColVec =
      LongVec(java.util.Arrays.copyOf(values, n),
        if (validity == null) null else java.util.Arrays.copyOf(validity, n))
    def digest(): Array[Byte] = md.digest()
    def clear(): Unit = {
      n = 0; validity = null; mn = Long.MaxValue; mx = Long.MinValue
      nulls = 0; sum = 0L; sumDead = false; histM.clear(); histDead = false
      md.reset()
    }
    def rawBytes: Long = n.toLong * width
    def minKey: String = if (mn == Long.MaxValue) "" else mn.toString
    def maxKey: String = if (mx == Long.MinValue) "" else mx.toString
    def nNulls: Int = nulls
    def sumKey: String = if (sumDead || n == nulls) "" else sum.toString
    def hist: Map[String, Long] =
      if (histDead) Map.empty
      else histM.iterator.map { case (k, c) => (k.toString, c) }.toMap
  }

  /** float32 widens losslessly to float64 (IEEE 754 widening is exact,
    * incl. NaN quiet-bit payloads under JVM semantics); the SHUFFLE
    * byte planes of the widened doubles carry the zero mantissa bytes,
    * which the entropy stage collapses. Logical width stays 4.
    */
  /** @param keepMantissa 0 = lossless; 1..52 = TRUNC_PREC quantization
    *                      (zero the low 52-keep mantissa bits). NaN and
    *                      infinities pass through untouched (zeroing a
    *                      NaN's mantissa could forge an infinity); for
    *                      float32 inputs keep < 23 stays exactly
    *                      float-representable, keep >= 23 is a no-op.
    */
  private final class DoubleBuilder(isFloat: Boolean, keepMantissa: Int = 0) extends ColBuilder {
    private val truncMask: Long =
      if (keepMantissa == 0) -1L else ~((1L << (52 - keepMantissa)) - 1)
    private var values = new Array[Double](1024)
    private var n = 0
    private var validity: Array[Boolean] = null
    private var mn = Double.PositiveInfinity
    private var mx = Double.NegativeInfinity
    private var nulls = 0
    // NaN never enters mn/mx (v < mn and v > mx are both false), yet
    // Spark SQL orders NaN ABOVE every double — a bounded zone could
    // wrongly prune a chunk whose only matches are NaN when probing a
    // NaN bound. NaN presence forces unbounded keys.
    private var sawNaN = false
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf8 = new Array[Byte](8)

    @inline private def ensure(): Unit = {
      if (n == values.length) {
        values = java.util.Arrays.copyOf(values, n * 2)
        if (validity != null) validity = java.util.Arrays.copyOf(validity, n * 2)
      }
    }

    def add(row: InternalRow, idx: Int): Long = {
      ensure()
      if (row.isNullAt(idx)) {
        if (validity == null) { validity = new Array[Boolean](values.length); java.util.Arrays.fill(validity, 0, n, true) }
        validity(n) = false
        values(n) = 0.0
        nulls += 1
        md.update(0: Byte)
      } else {
        val raw = if (isFloat) row.getFloat(idx).toDouble else row.getDouble(idx)
        val v =
          if (truncMask == -1L || raw.isNaN || raw.isInfinite) raw
          else java.lang.Double.longBitsToDouble(
            java.lang.Double.doubleToRawLongBits(raw) & truncMask)
        if (validity != null) validity(n) = true
        if (v.isNaN) sawNaN = true
        if (v < mn) mn = v
        if (v > mx) mx = v
        values(n) = v
        md.update(1: Byte)
        putLong(buf8, java.lang.Double.doubleToRawLongBits(v))
        md.update(buf8)
      }
      n += 1
      if (isFloat) 4L else 8L
    }
    def result(): ColVec =
      DoubleVec(java.util.Arrays.copyOf(values, n),
        if (validity == null) null else java.util.Arrays.copyOf(validity, n))
    def digest(): Array[Byte] = md.digest()
    def clear(): Unit = { n = 0; validity = null; mn = Double.PositiveInfinity; mx = Double.NegativeInfinity; sawNaN = false; nulls = 0; md.reset() }
    def rawBytes: Long = n.toLong * (if (isFloat) 4L else 8L)
    def minKey: String = if (sawNaN || mn.isPosInfinity) "" else mn.toString
    def maxKey: String = if (sawNaN || mx.isNegInfinity) "" else mx.toString
    def nNulls: Int = nulls
    // a float sum is order-dependent — no stored sum could be served as
    // THE exact SUM(col); callers decode (MetaAgg rejects double sums)
    def sumKey: String = ""
    def hist: Map[String, Long] = Map.empty
  }

  private final class BinBuilder(kind: Int, elemType: DataType = null,
                                 precision: Int = 0, scale: Int = 0) extends ColBuilder {
    private var values = new Array[Array[Byte]](1024)
    private var n = 0
    private var hasNull = false
    private var bytes = 0L
    private var mn: Array[Byte] = null
    private var mx: Array[Byte] = null
    // zone keys are UTF-8 text: only STRING columns get them (a mangled
    // re-decode of arbitrary binary/packed bytes would not be
    // order-preserving, so pruning on it would be unsound)
    private val zoneCapable = kind == BKind.STRING
    private var zoneDead = !zoneCapable // or some value exceeded ZONE_KEY_MAX
    private var nulls = 0
    // value histogram: STRING columns only (hist keys are UTF-8 text,
    // same rule as the zone keys), values must fit ZONE_KEY_MAX
    private val histM = new scala.collection.mutable.HashMap[String, Long]()
    private var histDead = !zoneCapable
    private val md = MessageDigest.getInstance("SHA-256")
    private val buf8 = new Array[Byte](8)

    @inline private def ensure(): Unit = {
      if (n == values.length) values = java.util.Arrays.copyOf(values, n * 2)
    }

    /** unsigned lexicographic byte compare (== UTF-8 code point order) */
    @inline private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      java.util.Arrays.compareUnsigned(a, b)
    }

    def add(row: InternalRow, idx: Int): Long = {
      ensure()
      if (row.isNullAt(idx)) {
        hasNull = true
        nulls += 1
        values(n) = null
        n += 1
        md.update(0: Byte)
        1L
      } else {
        val v = kind match {
          case BKind.STRING => row.getUTF8String(idx).getBytes
          case BKind.BINARY => row.getBinary(idx)
          case BKind.DECIMAL =>
            row.getDecimal(idx, precision, scale).toJavaBigDecimal.unscaledValue.toByteArray
          case BKind.ARRAY =>
            if (elemType == StringType) ArrayPack.packStrings(row.getArray(idx))
            else ArrayPack.pack(row.getArray(idx), elemType)
          case BKind.MAP => ArrayPack.packMap(row.getMap(idx))
          case k => throw new IllegalStateException(s"BKind $k")
        }
        values(n) = v
        n += 1
        bytes += v.length
        if (v.length > TableCodec.ZONE_KEY_MAX) { zoneDead = true; histDead = true }
        else {
          if (!zoneDead) {
            if (mn == null || cmp(v, mn) < 0) mn = v
            if (mx == null || cmp(v, mx) > 0) mx = v
          }
          if (!histDead) {
            val k = new String(v, UTF_8)
            val c = histM.getOrElse(k, 0L)
            if (c == 0L && histM.size >= TableCodec.HIST_MAX) histDead = true
            else histM(k) = c + 1L
          }
        }
        md.update(1: Byte)
        putLong(buf8, v.length.toLong)
        md.update(buf8)
        md.update(v)
        v.length.toLong
      }
    }
    def result(): ColVec = {
      val vals = java.util.Arrays.copyOf(values, n)
      val validity = if (!hasNull) null else {
        val a = new Array[Boolean](n)
        var i = 0
        while (i < n) { a(i) = vals(i) != null; i += 1 }
        a
      }
      BinVec(vals, validity,
        if (kind == BKind.ARRAY && elemType != StringType) ArrayPack.widthOf(elemType) else 0)
    }
    def digest(): Array[Byte] = md.digest()
    def clear(): Unit = {
      n = 0; hasNull = false; bytes = 0L; mn = null; mx = null
      zoneDead = !zoneCapable; nulls = 0; histM.clear(); histDead = !zoneCapable
      md.reset()
    }
    def rawBytes: Long = bytes
    def minKey: String = if (zoneDead || mn == null) "" else new String(mn, UTF_8)
    def maxKey: String = if (zoneDead || mx == null) "" else new String(mx, UTF_8)
    def nNulls: Int = nulls
    def sumKey: String = "" // sums are numeric-domain only
    def hist: Map[String, Long] = if (histDead) Map.empty else histM.toMap
  }
}

/** Fixed-width little-endian packing for array<numeric> columns: the
  * whole array value becomes one binary payload (element count is
  * implicit in the byte length), so the existing binary codec chain —
  * including the byte-plane SHUFFLE with typesize = element width —
  * applies unchanged. Mirrors the reference's fixed-size list columns
  * (python-blosc2 schema.py:413 List/FixedBytes).
  */
object ArrayPack {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import java.nio.{ByteBuffer, ByteOrder}

  def widthOf(et: DataType): Int = et match {
    case FloatType | IntegerType => 4
    case DoubleType | LongType => 8
    case t => throw new IllegalArgumentException(s"unsupported array element type $t")
  }

  def pack(ad: ArrayData, et: DataType): Array[Byte] = {
    // fail loudly on null ELEMENTS: toFloatArray on an UnsafeArrayData
    // would silently read a null slot as 0.0 (corruption the digest
    // could not catch, since it is computed post-pack)
    var i = 0
    val n = ad.numElements()
    while (i < n) {
      if (ad.isNullAt(i))
        throw new IllegalArgumentException(
          "null array elements are not supported by the graft codec (top-level null arrays are)")
      i += 1
    }
    val bb = ByteBuffer.allocate(ad.numElements() * widthOf(et)).order(ByteOrder.LITTLE_ENDIAN)
    et match {
      case FloatType => bb.asFloatBuffer().put(ad.toFloatArray())
      case DoubleType => bb.asDoubleBuffer().put(ad.toDoubleArray())
      case IntegerType => bb.asIntBuffer().put(ad.toIntArray())
      case LongType => bb.asLongBuffer().put(ad.toLongArray())
      case t => throw new IllegalArgumentException(s"$t")
    }
    bb.array()
  }

  /** array<string> layout: varint count, then per element one flag
    * byte (0 = null element, 1 = present) followed by varint length +
    * UTF-8 bytes. Unlike the fixed-width numeric path, null ELEMENTS
    * are representable (and roundtripped).
    */
  def packStrings(ad: ArrayData): Array[Byte] = {
    val n = ad.numElements()
    val w = new graft.core.Bytes.Writer(32 + n * 8)
    w.putVarInt(n)
    var i = 0
    while (i < n) {
      if (ad.isNullAt(i)) w.putByte(0)
      else {
        val bytes = ad.getUTF8String(i).getBytes
        w.putByte(1)
        w.putVarInt(bytes.length)
        w.putBytes(bytes)
      }
      i += 1
    }
    w.result()
  }

  /** map<string,string> layout: the packStrings format over the
    * interleaved sequence [k0, v0, k1, v1, ...] (keys are never null;
    * null VALUES use the element null flag). Representation order is
    * preserved, so the roundtrip is bit-exact and the digest stable.
    */
  def packMap(md: org.apache.spark.sql.catalyst.util.MapData): Array[Byte] = {
    val n = md.numElements()
    val keys = md.keyArray()
    val vals = md.valueArray()
    val w = new graft.core.Bytes.Writer(32 + n * 16)
    w.putVarInt(2 * n)
    var i = 0
    while (i < n) {
      val kb = keys.getUTF8String(i).getBytes
      w.putByte(1); w.putVarInt(kb.length); w.putBytes(kb)
      if (vals.isNullAt(i)) w.putByte(0)
      else {
        val vb = vals.getUTF8String(i).getBytes
        w.putByte(1); w.putVarInt(vb.length); w.putBytes(vb)
      }
      i += 1
    }
    w.result()
  }

  def unpackMap(b: Array[Byte]): org.apache.spark.sql.catalyst.util.ArrayBasedMapData = {
    val flat = unpackStrings(b)
    val n = flat.numElements() / 2
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) {
      keys(i) = flat.array(2 * i)
      vals(i) = flat.array(2 * i + 1)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
      new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
  }

  def unpackStrings(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val r = new graft.core.Bytes.Reader(b)
    val n = r.getVarInt()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (r.getByte() == 1) {
        val len = r.getVarInt()
        out(i) = org.apache.spark.unsafe.types.UTF8String.fromBytes(r.getBytes(len))
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def unpackFloats(b: Array[Byte]): Array[Float] = {
    val out = new Array[Float](b.length / 4)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer().get(out)
    out
  }
  def unpackDoubles(b: Array[Byte]): Array[Double] = {
    val out = new Array[Double](b.length / 8)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).asDoubleBuffer().get(out)
    out
  }
  def unpackInts(b: Array[Byte]): Array[Int] = {
    val out = new Array[Int](b.length / 4)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).asIntBuffer().get(out)
    out
  }
  def unpackLongs(b: Array[Byte]): Array[Long] = {
    val out = new Array[Long](b.length / 8)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN).asLongBuffer().get(out)
    out
  }
}
