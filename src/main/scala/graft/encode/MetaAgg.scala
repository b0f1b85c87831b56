package graft.encode

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Decode-free aggregate pushdown over the encoded store.
  *
  * COUNT comes from chunk metadata alone (the manifest's per-chunk
  * `nRows`); MIN/MAX come from the zone bounds, SUM from the running
  * `sumKey` and GROUP BY COUNT from the value histogram of every chunk
  * whose stat is defined. The common case reads O(chunks) tiny metadata
  * rows and ZERO payload bytes (spec-asserted byte-level) — the same
  * trick parquet's aggregate pushdown plays with footer statistics, and
  * the aggregate analog of the reference's SUMMARY segment accumulators
  * (python-blosc2 indexing.py:44-57, built in one accumulator pass at
  * write time). At 100 TB this serves `min/max/count` without mapping a
  * single payload page.
  *
  * One fallback rule serves every aggregate: a chunk is decoded for
  * column `c` only when its stat on `c` is undefined (`""` bounds:
  * NaN-bearing or infinite double chunks, string keys over the zone-key
  * length cap, a long chunk holding only `Long.MaxValue`; an overflowed
  * `sumKey`; a dead histogram) AND it holds a non-null value of `c`, so
  * an all-null chunk never decodes. The multi-column entry points
  * ([[minMaxAll]], [[stats]], [[groupCountAll]]) share one flow: one
  * metadata aggregate over the store rows, one [[StoreLayout.probe]]
  * for the fallback chunk keys of every column, and one Spark aggregate
  * over the union of every fallback column's decoded values with the
  * metadata results. Single-column functions delegate.
  *
  * Zone-key exactness (why the bounds can be RETURNED, not just used
  * to prune): ColBuilder writes keys with `Long.toString` /
  * `Double.toString` (lossless round-trips) and drops — never
  * truncates — over-long string keys, so a non-empty bound IS the
  * exact column min/max of that chunk's non-null values.
  */
object MetaAgg {

  /** Exact row count from chunk metadata (one store row per chunk). */
  def count(spark: SparkSession, storeDir: String): Long = {
    val df = Snapshots.storeDf(spark, storeDir)
    val n = df.agg(sum(col("nRows"))).head()
    if (n.isNullAt(0)) 0L else n.getLong(0)
  }

  // ------------------------------------------------------------ the shared core

  private def fld(c: String): String = StoreLayout.fieldName(c)

  private def leaf(c: String, field: String): Column = col(s"${fld(c)}.$field")

  /** Non-null rows of `c` in a chunk. */
  private def nonNullE(c: String): Column = col("nRows").cast(LongType) - leaf(c, "nNulls")

  /** The fallback rule: the chunk's stat on `c` is `undefined` and the
    * chunk holds a non-null value of `c`.
    */
  private def fallbackE(c: String, undefined: Column): Column = undefined && nonNullE(c) > 0L

  private val Exact = DecimalType(38, 0)

  /** `c`'s decoded values in its zone-key domain: strings as they are,
    * float/double as double with NaN dropped like NULL (zone semantics:
    * a NaN-bearing chunk is unbounded and its finite values still count —
    * NOTE Spark/DuckDB order NaN greatest), everything else as the long
    * ColBuilder keys it by (booleans 1/0, dates as days, timestamps as
    * micros, narrow decimals unscaled).
    */
  private def zoneValue(c: String, dt: DataType): Column = {
    val v = col(c)
    dt match {
      case StringType => v
      case FloatType | DoubleType => when(!isnan(v), v.cast(DoubleType))
      case DateType => unix_date(v).cast(LongType)
      case TimestampType => unix_micros(v)
      case TimestampNTZType => timestamp_diff("MICROSECOND", lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)), v)
      case d: DecimalType => (v * lit(new java.math.BigDecimal(java.math.BigInteger.TEN.pow(d.scale)))).cast(LongType)
      case _ => v.cast(LongType)
    }
  }

  /** The union of every `flagged` column's decoded fallback chunks
    * (`flagged`: column → fallback flag), each column decoded over its
    * own flagged chunks only and then `project`ed, with `metaPart`
    * unioned in by name (columns missing on either side are null). The
    * keys of every column come from ONE probe job, each column bounded
    * on its own: a column with few fallback chunks keeps its pushed keys
    * when a sibling overflows the cap, and one whose probe finds no chunk
    * adds no branch. Nothing else runs until the union is read.
    */
  private def withFallbacks(spark: SparkSession, storeDir: String, schema: StructType, store: DataFrame,
                            metaPart: DataFrame, flagged: Seq[(String, Column)])
                           (project: (String, DataFrame) => DataFrame): DataFrame = {
    val keys = if (flagged.isEmpty) Nil else StoreLayout.probe(
      store.filter(flagged.map(_._2).reduce(_ || _)), flagged.map(_._2), needCounts = false).keys
    val decoded = flagged.zip(keys).collect { case ((c, flag), k) if !k.exists(_.isEmpty) =>
      project(c, TableCodec.decode(StoreLayout.readChunks(spark, storeDir, k, Seq(c))(_.filter(flag)),
        StructType(Seq(MetaIndex.flatOf(schema)(c)))))
    }
    decoded.foldLeft(metaPart)(_.unionByName(_, allowMissingColumns = true))
  }

  /** One statistic of a batched aggregate, `name` in its result row:
    * `fn` (min, max or sum) over `meta`, a store-row expression that is
    * null where the chunk's stat is undefined, and — for the fallback
    * chunks of column `on` — over `decoded`, an expression over `on`'s
    * decoded values.
    */
  private final case class Stat(name: String, fn: Column => Column, meta: Column,
                                on: Option[String] = None, decoded: Column = null)

  /** `stats` in ONE metadata aggregate job, which also flags each `on`
    * column with a fallback chunk (its stat `undefined`). When none has
    * one, that row is the answer; else ONE probe job and ONE aggregate
    * job over the metadata row (a literal row) unioned with every
    * flagged column's decoded values re-run `stats`, so both sources
    * meet in Spark's own ordering and arithmetic.
    */
  private def aggregate(spark: SparkSession, storeDir: String, schema: StructType, stats: Seq[Stat],
                        undefined: String => Column): Row = {
    val store = Snapshots.storeDf(spark, storeDir)
    val flags = stats.flatMap(_.on).distinct.map(c => c -> fallbackE(c, undefined(c)))
    val aggs = stats.map(s => s.fn(s.meta).as(s.name)) ++
      flags.map { case (c, f) => bool_or(f).as(s"fallback:${fld(c)}") }
    val row = store.agg(aggs.head, aggs.tail: _*).head()
    val flagged = flags.filter { case (c, _) => row.getAs[Any](s"fallback:${fld(c)}") == true }
    if (flagged.isEmpty) row
    else {
      val metaRow = spark.createDataFrame(java.util.List.of(row), row.schema).select(stats.map(s => col(s.name)): _*)
      val again = stats.map(s => s.fn(col(s.name)).as(s.name))
      withFallbacks(spark, storeDir, schema, store, metaRow, flagged) { (c, df) =>
        df.select(stats.filter(_.on.contains(c)).map(s => s.decoded.as(s.name)): _*)
      }.agg(again.head, again.tail: _*).head()
    }
  }

  private def opt(row: Row, name: String): Option[Any] = Option(row.getAs[Any](name))

  private def typeOf(schema: StructType, c: String, what: String)(ok: PartialFunction[DataType, Unit]): DataType = {
    val dt = MetaIndex.flatOf(schema)(c).dataType
    ok.applyOrElse(dt, (t: DataType) => throw new IllegalArgumentException(s"$what: $c is $t"))
    dt
  }

  // ------------------------------------------------------------ sums and counts

  /** Batched store statistics: total row count, exact sums for
    * `sumCols` (None: no non-null value) from the per-chunk `sumKey`
    * accumulators, and non-null counts for `nonNullCols` (per-chunk
    * `nNulls`: never a decode). A chunk whose running Long overflowed
    * decodes its one column (the shared fallback). Narrow decimals sum
    * in their unscaled domain (the zone domain — rescale with the
    * column's scale). Float/double are rejected: a float sum is
    * order-dependent, so no stored partial could be served as THE exact
    * answer. Throws if an exact total exceeds Long range. `schema` may be
    * null when `sumCols` is empty (non-null counts are type-agnostic).
    */
  final case class StoreStats(nRows: Long, sums: Map[String, Option[Long]],
                              nonNull: Map[String, Long])

  def stats(spark: SparkSession, storeDir: String, schema: StructType,
            sumCols: Seq[String], nonNullCols: Seq[String]): StoreStats = {
    val sumStats = sumCols.distinct.map { c =>
      val dt = typeOf(schema, c, "exact sum pushdown is integral-domain only") {
        case ByteType | ShortType | IntegerType | LongType | BooleanType =>
        case d: DecimalType if d.precision <= 18 =>
      }
      val k = leaf(c, "sumKey")
      Stat(s"sum:${fld(c)}", sum, when(k =!= "", k.cast(Exact)), Some(c), zoneValue(c, dt).cast(Exact))
    }
    val counts = Stat("n", sum, col("nRows").cast(LongType)) +:
      (sumCols ++ nonNullCols).distinct.map(c => Stat(s"nonNull:${fld(c)}", sum, nonNullE(c)))
    val row = aggregate(spark, storeDir, schema, counts ++ sumStats, c => leaf(c, "sumKey") === "")
    def nonNull(c: String): Long = row.getAs[Long](s"nonNull:${fld(c)}")
    val sums = sumCols.map { c =>
      c -> (if (nonNull(c) == 0L) None else {
        val total = opt(row, s"sum:${fld(c)}").fold(java.math.BigInteger.ZERO)(
          _.asInstanceOf[java.math.BigDecimal].toBigIntegerExact)
        if (total.bitLength > 63) throw new ArithmeticException(s"sum of $c = $total exceeds Long range")
        Some(total.longValue)
      })
    }.toMap
    StoreStats(row.getAs[Long]("n"), sums, nonNullCols.map(c => c -> nonNull(c)).toMap)
  }

  // ------------------------------------------------------------ group-by count

  /** Decode-free group-by COUNT over a low-cardinality column: chunks
    * with a LIVE value histogram are served from metadata; dead-
    * histogram chunks decode ONLY this column and group exactly.
    * Returns (value: string, cnt: long) with one null-value row for the
    * SQL null group; string values are identity, integral-domain values
    * are their decimal string (booleans "0"/"1").
    *
    * At 100 TB a `GROUP BY lang` reads O(chunks) histogram entries and
    * zero payload pages — the reference's SUMMARY-accumulator idea
    * (python-blosc2 indexing.py:44-57) applied to aggregation.
    */
  def groupCount(spark: SparkSession, storeDir: String, schema: StructType,
                 colName: String): DataFrame =
    groupCountAll(spark, storeDir, schema, Seq(colName)).select("value", "cnt")

  /** Batched multi-column group-count: the live histograms and null
    * groups of every requested column come from one lazy metadata part,
    * unioned with the decoded dead-histogram chunks of every column and
    * counted in the caller's single action; the only eager work is the
    * one probe job for those chunks' keys. Returns (col_name, value,
    * cnt) — exactly groupCount's rows per column.
    */
  def groupCountAll(spark: SparkSession, storeDir: String, schema: StructType,
                    cols: Seq[String]): DataFrame = {
    val dts = cols.map(c => c -> typeOf(schema, c, "histogram group-by covers string/integral/boolean") {
      case StringType | ByteType | ShortType | IntegerType | LongType | BooleanType =>
    }).toMap
    val store = Snapshots.storeDf(spark, storeDir)
    // a LIVE histogram: sum of counts == non-null rows (a dead one cannot masquerade)
    def alive(c: String): Column =
      expr(s"aggregate(map_values(${fld(c)}.hist), CAST(0 AS BIGINT), (a, x) -> a + x)") === nonNullE(c)
    val entry = ArrayType(StructType(Seq(StructField("key", StringType), StructField("value", LongType))))
    // per chunk per column, the live histogram's entries plus a null-group entry
    val perCol = cols.map { c =>
      val entries = concat(
        when(alive(c), map_entries(leaf(c, "hist"))).otherwise(array().cast(entry)),
        when(leaf(c, "nNulls") > 0,
          array(struct(lit(null).cast(StringType).as("key"), leaf(c, "nNulls").cast(LongType).as("value"))))
          .otherwise(array().cast(entry)))
      struct(lit(c).as("col_name"), entries.as("entries"))
    }
    val metaPart = store
      .select(explode(array(perCol: _*)).as("c"))
      .select(col("c.col_name").as("col_name"), explode(col("c.entries")).as("e"))
      .select(col("col_name"), col("e.key").as("value"), col("e.value").as("cnt"))
    withFallbacks(spark, storeDir, schema, store, metaPart, cols.map(c => c -> fallbackE(c, !alive(c)))) { (c, df) =>
      df.filter(col(c).isNotNull)
        .select(lit(c).as("col_name"), zoneValue(c, dts(c)).cast(StringType).as("value"), lit(1L).as("cnt"))
    }.groupBy("col_name", "value").agg(sum("cnt").as("cnt"))
  }

  // ------------------------------------------------------------ min / max

  /** (min, max) of `colName` over the store, None for an empty/all-null
    * column. Values are in the column's zone domain (long-backed
    * integrals as Long, float/double as Double, strings as String,
    * timestamps/dates/decimals in their integer zone domain — the same
    * domain MetaIndex predicates use).
    */
  def minMax(spark: SparkSession, storeDir: String, schema: StructType,
             colName: String): (Option[Any], Option[Any]) =
    minMaxAll(spark, storeDir, schema, Seq(colName)).byCol(colName)

  final case class MinMaxAll(nRows: Long, byCol: Map[String, (Option[Any], Option[Any])])

  /** Batched multi-column (min, max) — plus the store row count — from
    * ONE metadata job; unbounded chunks of every column decode together
    * in one more aggregate (after one probe job for their keys), and
    * bounded columns never touch a payload byte.
    */
  def minMaxAll(spark: SparkSession, storeDir: String, schema: StructType,
                cols: Seq[String]): MinMaxAll = {
    val stats = cols.distinct.flatMap { c =>
      val dt = typeOf(schema, c, "zone keys of this type are not orderable scalars") {
        case StringType | FloatType | DoubleType | BooleanType | ByteType | ShortType |
             IntegerType | LongType | DateType | TimestampType | TimestampNTZType =>
        case d: DecimalType if d.precision <= 18 =>
      }
      val domain = dt match {
        case StringType => StringType
        case FloatType | DoubleType => DoubleType
        case _ => LongType // integral / boolean / date / timestamp / narrow decimal
      }
      def bound(field: String): Column = { val k = leaf(c, field); when(k =!= "", k.cast(domain)) }
      Seq(Stat(s"min:${fld(c)}", min, bound("minKey"), Some(c), zoneValue(c, dt)),
        Stat(s"max:${fld(c)}", max, bound("maxKey"), Some(c), zoneValue(c, dt)))
    }
    val row = aggregate(spark, storeDir, schema, Stat("n", sum, col("nRows").cast(LongType)) +: stats,
      c => leaf(c, "minKey") === "" || leaf(c, "maxKey") === "")
    MinMaxAll(row.getAs[Long]("n"), cols.map(c => c -> (opt(row, s"min:${fld(c)}"), opt(row, s"max:${fld(c)}"))).toMap)
  }
}
