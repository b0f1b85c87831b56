package graft.encode

import graft.lineage.Lineage
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Zone-map query path over the encoded store: prune chunks by their
  * per-column min/max metadata BEFORE touching any payload, then decode
  * only surviving chunks and apply the exact predicate.
  *
  * This is the Spark-native analog of the reference's SUMMARY segment
  * indexes (python-blosc2 indexing.py:44-57) and its candidate-chunk
  * pruning (`_prune_chunks`, lazyexpr.py:1737-1744).
  *
  * Scale design: with the v2 store layout (StoreLayout — one parquet
  * struct column per table column) the prune pass selects ONLY the
  * zone-metadata leaves (`g_<col>.minKey` etc.), so the parquet reader
  * never maps any payload page of ANY column; a selective point query
  * over 100 TB reads O(chunks) tiny metadata rows. Survivor chunks are
  * then fetched with a pushable key predicate (shard is a partition
  * dir → directory pruning; partId/chunkId hit row-group stats), and
  * only those payloads are decoded; past the key cap the store scan is
  * filtered by the zone hit itself.
  *
  * Zone-key semantics (must match ColBuilder): string keys compare in
  * UTF-8 byte order (Spark string compare is UTF8String binary order);
  * numeric/temporal keys compare numerically in their recorded integer
  * domain (micros for timestamps, days for dates, unscaled for long
  * decimals); an empty minKey/maxKey means unbounded.
  */
object MetaIndex {

  /** Column types whose zone keys compare numerically. */
  private val numericDts = Seq(
    "bigint", "int", "smallint", "tinyint", "boolean",
    "double", "float", "date", "timestamp", "timestamp_ntz")

  /** Does zone [minKey, maxKey] intersect the range [lo, hi] (string
    * expressions in the zone-key domain)? A `None` side is unbounded
    * (one-sided predicates `x >= lo` / `x <= hi`; strict inequalities
    * use the closed form — conservative, may admit a boundary-only
    * chunk that the exact filter removes). An empty key is an unbounded
    * zone side. Compare is dt-aware: numeric/temporal zones compare as
    * doubles — rounding is monotonic, so drift near 2^53 can only ADMIT
    * extra chunks, never wrongly prune — and string zones in UTF-8 byte
    * order.
    */
  def zoneHit(minKey: Column, maxKey: Column, dt: Column,
              lo: Option[Column], hi: Option[Column]): Column = {
    def all(cs: Seq[Column]): Column = cs.reduceOption(_ && _).getOrElse(lit(true))
    val unbounded = minKey === "" && maxKey === ""
    val isNum = dt.isin(numericDts: _*) || dt.startsWith("decimal")
    val minD = when(minKey === "", lit(Double.NegativeInfinity)).otherwise(minKey.cast("double"))
    val maxD = when(maxKey === "", lit(Double.PositiveInfinity)).otherwise(maxKey.cast("double"))
    val numHit = all(lo.map(l => maxD >= l.cast("double")).toSeq ++
      hi.map(h => minD <= h.cast("double")))
    val strHit = all(lo.map(l => maxKey === "" || maxKey >= l).toSeq ++
      hi.map(h => minKey === "" || minKey <= h))
    unbounded || when(isNum, numHit).otherwise(strHit)
  }

  /** [[zoneHit]] over column `colName`'s chunk-struct leaves in the
    * store schema.
    */
  def zoneHitOn(colName: String, lo: Option[String], hi: Option[String]): Column = {
    val f = StoreLayout.fieldName(colName)
    zoneHit(col(s"$f.minKey"), col(s"$f.maxKey"), col(s"$f.dt"), lo.map(lit), hi.map(lit))
  }

  /** Does the zone of `colName` hold any of `values` (zone-key domain)?
    * One expression over a literal array, whatever the list's length:
    * a chain of one [[zoneHitOn]] per value outgrows codegen's method
    * limit and, at thousands of values, the stack.
    */
  def zoneHitAny(colName: String, values: Seq[String]): Column = {
    val f = StoreLayout.fieldName(colName)
    exists(lit(values.toArray), v => zoneHit(col(s"$f.minKey"), col(s"$f.maxKey"), col(s"$f.dt"), Some(v), Some(v)))
  }

  /** The QueryCache key of [lo, hi] on `colName`'s candidate chunk keys
    * at the store's current version. Take it BEFORE the scan whose keys
    * it stores: a commit during the scan then files them under the old
    * version, which no later probe asks for.
    */
  private[graft] def candidatesKey(spark: SparkSession, storeDir: String, colName: String,
                                    lo: String, hi: String): QueryCache.Key =
    QueryCache.key(spark, storeDir, "zone", colName, lo, hi)

  /** Candidate chunk keys of [lo, hi] on `colName` (pushable, else
    * None): one bounded probe job ([[StoreLayout.probe]]). Repeated
    * probes with the same predicate skip the metadata scan: the keys
    * come from the store-version-keyed LRU (QueryCache — the
    * reference's result-coordinate cache analog).
    */
  private def cachedCandidates(spark: SparkSession, storeDir: String, colName: String,
                               lo: String, hi: String): Option[Seq[(Int, Int, Long)]] =
    QueryCache.coordinates(candidatesKey(spark, storeDir, colName, lo, hi))(
      StoreLayout.probe(Snapshots.storeDf(spark, storeDir), Seq(zoneHitOn(colName, Some(lo), Some(hi))),
        needCounts = false).keys.head)

  /** The encoded (flat) view of `schema`: struct columns become dotted
    * leaves — the namespace predicates, indexes, and store reads
    * actually address.
    */
  def flatOf(schema: StructType): StructType =
    if (Nested.hasNested(schema)) Nested.flatSchema(schema) else schema

  /** Exact range predicate on the ORIGINAL column for bounds given in
    * the zone-key domain (values for long/string columns, micros for
    * timestamps, days for dates, unscaled for decimals).
    */
  def exactRange(schema: StructType, colName: String, lo: String, hi: String): Column = {
    def bound(v: String): Column = domainLit(flatOf(schema)(colName).dataType, v)
    col(colName) >= bound(lo) && col(colName) <= bound(hi)
  }

  /** Exact equality predicate in the same zone-key domain. */
  def exactEq(schema: StructType, colName: String, value: String): Column =
    col(colName) === domainLit(flatOf(schema)(colName).dataType, value)

  /** A literal of `dt` from its zone-key-domain string form. */
  def domainLit(dt: DataType, v: String): Column = dt match {
    case StringType => lit(v)
    case LongType | IntegerType | ShortType | ByteType => lit(v.toLong).cast(dt)
    case DoubleType | FloatType => lit(v.toDouble).cast(dt)
    case BooleanType => lit(v.toLong != 0L)
    case TimestampType | TimestampNTZType => timestamp_micros(lit(v.toLong)).cast(dt)
    case DateType => date_from_unix_date(lit(v.toInt))
    case d: DecimalType => // v is the unscaled integer
      lit(new java.math.BigDecimal(new java.math.BigInteger(v), d.scale)).cast(d)
    case t => throw new IllegalArgumentException(s"range/eq probe on $t")
  }

  /** Point/range lookup over the encoded store: metadata prune → fetch
    * survivors (pushed keys) → decode → exact filter. `lo`/`hi` are in
    * the zone-key domain of the column.
    */
  def lookup(spark: SparkSession, storeDir: String, schema: StructType,
             colName: String, lo: String, hi: String): DataFrame =
    lookupKeys(spark, storeDir, schema, colName, lo, hi, cachedCandidates(spark, storeDir, colName, lo, hi))

  /** [[lookup]] over candidate keys the caller already holds (`None`:
    * too many to push, the store read filtered by the zone hit).
    */
  private[graft] def lookupKeys(spark: SparkSession, storeDir: String, schema: StructType, colName: String,
                                 lo: String, hi: String, keys: Option[Seq[(Int, Int, Long)]]): DataFrame =
    TableCodec.decode(
      StoreLayout.readChunks(spark, storeDir, keys, TableCodec.encodedNames(schema))(
        _.filter(zoneHitOn(colName, Some(lo), Some(hi)))), schema)
      .filter(exactRange(schema, colName, lo, hi))

  /** Pruning stats for a predicate: (candidate chunks, total chunks) —
    * computed entirely from metadata.
    */
  def pruningStats(spark: SparkSession, storeDir: String, colName: String,
                   lo: String, hi: String): (Long, Long) = {
    // both counts in ONE aggregate job — a planner probe should not pay
    // two driver round-trips for one metadata scan
    val row = Snapshots.storeDf(spark, storeDir)
      .agg(count(lit(1)).as("total"),
        coalesce(sum(zoneHitOn(colName, Some(lo), Some(hi)).cast("long")), lit(0L)).as("cand"))
      .head()
    (row.getLong(1), row.getLong(0))
  }

  /** Convenience: build a store for `df` at `storeDir` (idempotent via
    * the lineage manifest) keyed by `idCols`.
    */
  def buildStore(spark: SparkSession, df: DataFrame, storeDir: String,
                 idCols: Seq[String], nShards: Int = 8, chunkRows: Int = 4096): Unit = {
    Lineage.encodeResumable(spark, df, storeDir, idCols,
      nShards = nShards, nBatches = 1, chunkRows = chunkRows)
    ()
  }
}
