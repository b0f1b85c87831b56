package graft.encode

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Decode-free aggregate pushdown over the encoded store.
  *
  * COUNT comes from chunk metadata alone (the manifest's per-chunk
  * `nRows`); MIN/MAX come from the zone bounds of every chunk whose
  * bounds are defined, with a single-column decode fallback for the
  * rare UNBOUNDED chunks (`""` bounds: NaN-bearing double chunks,
  * string keys over the zone-key length cap, all-null chunks). The
  * common case reads O(chunks) tiny metadata rows and ZERO payload
  * bytes (spec-asserted byte-level) — the same trick parquet's
  * aggregate pushdown plays with footer statistics, and the aggregate
  * analog of the reference's SUMMARY segment accumulators
  * (python-blosc2 indexing.py:44-57, column summary min/max built at
  * write time). At 100 TB this serves `min/max/count` without mapping
  * a single payload page.
  *
  * BATCHED (r6): the multi-column entry points ([[minMaxAll]],
  * [[stats]], [[groupCountAll]]) serve EVERY requested column from ONE
  * metadata scan in ONE Spark job (plus at most one key-collect job and
  * the per-column decode fallbacks when chunks are unbounded) — the
  * round-5 verdict measured the per-column loop as 9 sequential
  * driver-blocking jobs over the SAME zone rows, which at 100 TB is 9
  * serial metadata scans where one pass serves every column. The
  * reference builds all SUMMARY stats in one accumulator pass for the
  * same reason (indexing.py:44-57). Single-column functions delegate.
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

  // ------------------------------------------------------------ helpers

  private def fld(c: String): String = StoreLayout.fieldName(c)

  /** chunk has undefined zone bounds on column `c`. */
  private def unboundedE(c: String): Column =
    col(s"${fld(c)}.minKey") === "" || col(s"${fld(c)}.maxKey") === ""

  /** chunk's histogram on `c` is LIVE (sum of counts == non-null rows —
    * a dead histogram cannot masquerade).
    */
  private def aliveE(c: String): Column =
    expr(s"aggregate(map_values(${fld(c)}.hist), CAST(0 AS BIGINT), (a, x) -> a + x)") ===
      (col("nRows").cast("bigint") - col(s"${fld(c)}.nNulls"))

  /** chunk needs the sum decode fallback on `c` (running Long
    * overflowed while non-null values exist).
    */
  private def sumFallbackE(c: String): Column =
    col(s"${fld(c)}.sumKey") === "" && col(s"${fld(c)}.nNulls") < col("nRows")

  /** Decode ONLY `colName`'s column of the fallback chunks, those
    * `flagged` (StoreLayout.readChunks: `keys` pushed into the parquet
    * scan, or the store scan filtered by `flagged` when they were too
    * many to push).
    */
  private def decodeChunks(spark: SparkSession, storeDir: String, schema: StructType,
                           colName: String, flagged: Column,
                           keys: Option[Seq[(Int, Int, Long)]]): DataFrame =
    TableCodec.decode(StoreLayout.readChunks(spark, storeDir, keys, Seq(colName))(_.filter(flagged)),
      StructType(Seq(MetaIndex.flatOf(schema)(colName))))

  /** Fallback-chunk keys per column, each bounded INDEPENDENTLY, from
    * ONE probe job over the chunks flagged on any column
    * ([[StoreLayout.probe]]): a column with few (or zero) fallback
    * chunks keeps its pushed keys when a sibling column overflows the
    * cap. Result per column: Some(keys) (possibly empty = skip the
    * decode branch entirely) or None (= decode the store rows `cond` flags).
    */
  private def fallbackKeys(meta: DataFrame, conds: Seq[(String, Column)]):
      Map[String, Option[Seq[(Int, Int, Long)]]] =
    if (conds.isEmpty) Map.empty
    else conds.map(_._1).zip(StoreLayout.probe(meta.filter(conds.map(_._2).reduce(_ || _)),
      conds.map(_._2), needCounts = false).keys).toMap

  /** Exact SUM(col) for an integral-domain column, served from the
    * per-chunk `sumKey` accumulators: zero payload bytes unless a chunk
    * recorded an undefined sum (its running Long overflowed), in which
    * case ONLY those chunks' one column is decoded and folded in.
    * Narrow decimals sum in their unscaled domain (the zone domain —
    * rescale with the column's scale). None = no non-null values.
    * Float/double are rejected: a float sum is order-dependent, so no
    * stored partial could be served as THE exact answer — decode
    * instead. Throws if the exact total exceeds Long range.
    */
  def sumLong(spark: SparkSession, storeDir: String, schema: StructType,
              colName: String): Option[Long] =
    stats(spark, storeDir, schema, Seq(colName), Nil).sums(colName)

  /** Batched store statistics from ONE metadata scan / ONE job:
    * total row count, exact sums for `sumCols` (sumLong semantics per
    * column, incl. the decode fallback — fallback chunk keys for ALL
    * columns are collected in one additional job when any exist),
    * non-null counts for `nonNullCols` (per-chunk `nNulls`: never a
    * decode). `schema` may be null when `sumCols` is empty (non-null
    * counts are type-agnostic).
    */
  final case class StoreStats(nRows: Long, sums: Map[String, Option[Long]],
                              nonNull: Map[String, Long])

  def stats(spark: SparkSession, storeDir: String, schema: StructType,
            sumCols: Seq[String], nonNullCols: Seq[String]): StoreStats = {
    val scales: Map[String, Int] = sumCols.map { c =>
      val dt = MetaIndex.flatOf(schema)(c).dataType
      c -> (dt match {
        case ByteType | ShortType | IntegerType | LongType | BooleanType => 0
        case d: DecimalType if d.precision <= 18 => d.scale
        case other => throw new IllegalArgumentException(
          s"sumLong: $c is $other — exact sum pushdown is integral-domain only")
      })
    }.toMap
    val meta = Snapshots.storeDf(spark, storeDir)
    // one wide aggregate: [nRows, per sumCol (sum, nonNull, nFallback), per nnCol nonNull]
    val aggs = Seq(sum(col("nRows").cast("bigint")).as("n")) ++
      sumCols.flatMap { c =>
        Seq(
          sum(when(col(s"${fld(c)}.sumKey") =!= "", col(s"${fld(c)}.sumKey").cast(DecimalType(38, 0)))),
          sum(col("nRows").cast("bigint") - col(s"${fld(c)}.nNulls")),
          sum(when(sumFallbackE(c), 1L).otherwise(0L)))
      } ++
      nonNullCols.map(c => sum(col("nRows").cast("bigint") - col(s"${fld(c)}.nNulls")))
    val row = meta.agg(aggs.head, aggs.tail: _*).head()
    val nRows = if (row.isNullAt(0)) 0L else row.getLong(0)

    // fallback decode (rare): ONE key-collect job across every column
    // that needs it, then per-column decode+sum
    val needFb = sumCols.zipWithIndex.filter { case (_, i) =>
      val v = row.get(1 + i * 3 + 2); v != null && row.getLong(1 + i * 3 + 2) > 0L
    }.map(_._1)
    val fbKeys = fallbackKeys(meta, needFb.map(c => c -> sumFallbackE(c)))

    val sums = sumCols.zipWithIndex.map { case (c, i) =>
      val nonNull = if (row.isNullAt(1 + i * 3 + 1)) 0L else row.getLong(1 + i * 3 + 1)
      if (nonNull == 0L) c -> None
      else {
        var total: BigInt =
          if (row.isNullAt(1 + i * 3)) BigInt(0)
          else BigInt(row.getDecimal(1 + i * 3).toBigIntegerExact) // decimal(38,0) — no fraction
        val nFb = if (row.isNullAt(1 + i * 3 + 2)) 0L else row.getLong(1 + i * 3 + 2)
        if (nFb > 0L) {
          val decoded = decodeChunks(spark, storeDir, schema, c, sumFallbackE(c), fbKeys(c))
          val dt = MetaIndex.flatOf(schema)(c).dataType
          val v = dt match {
            case BooleanType => when(col(c), 1L).otherwise(0L).cast(DecimalType(38, 0))
            case d: DecimalType => col(c).cast(DecimalType(38, d.scale))
            case _ => col(c).cast(DecimalType(38, 0))
          }
          val r = decoded.agg(sum(v)).head()
          // fold in the decoded partial in the UNSCALED (zone) domain —
          // setScale(scale) pins the representation so unscaledValue is
          // the exact integer sumKey would have recorded
          if (!r.isNullAt(0)) total += BigInt(r.getDecimal(0).setScale(scales(c)).unscaledValue())
        }
        if (!total.isValidLong) throw new ArithmeticException(
          s"sumLong($c) = $total exceeds Long range")
        c -> Some(total.toLong)
      }
    }.toMap
    val nnBase = 1 + sumCols.size * 3
    val nn = nonNullCols.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(nnBase + i)) 0L else row.getLong(nnBase + i))
    }.toMap
    StoreStats(nRows, sums, nn)
  }

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

  /** Batched multi-column group-count: ONE metadata scan serves every
    * requested column's live histograms AND null groups lazily (they
    * execute inside the caller's single action); the only eager work is
    * one key-collect job for the dead-histogram chunks of ALL columns
    * together (skipped when the collect proves none). Returns
    * (col_name, value, cnt) — exactly groupCount's rows per column.
    */
  def groupCountAll(spark: SparkSession, storeDir: String, schema: StructType,
                    cols: Seq[String]): DataFrame = {
    cols.foreach { c =>
      MetaIndex.flatOf(schema)(c).dataType match {
        case StringType | ByteType | ShortType | IntegerType | LongType | BooleanType => ()
        case other => throw new IllegalArgumentException(
          s"groupCount: $c is $other — histogram group-by covers string/integral/boolean")
      }
    }
    val meta = Snapshots.storeDf(spark, storeDir)

    // LAZY metadata part: per chunk per column, the live histogram's
    // entries plus a null-group entry — one scan, exploded once
    val perCol = cols.map { c =>
      val entries = concat(
        when(aliveE(c), map_entries(col(s"${fld(c)}.hist")))
          .otherwise(array().cast(ArrayType(StructType(Seq(
            StructField("key", StringType), StructField("value", LongType)))))),
        when(col(s"${fld(c)}.nNulls") > 0,
          array(struct(lit(null).cast(StringType).as("key"),
            col(s"${fld(c)}.nNulls").cast(LongType).as("value"))))
          .otherwise(array().cast(ArrayType(StructType(Seq(
            StructField("key", StringType), StructField("value", LongType)))))))
      struct(lit(c).as("col_name"), entries.as("entries"))
    }
    val metaPart = meta
      .select(explode(array(perCol: _*)).as("c"))
      .select(col("c.col_name").as("col_name"), explode(col("c.entries")).as("e"))
      .select(col("col_name"), col("e.key").as("value"), col("e.value").as("cnt"))

    // EAGER (one job): dead-histogram chunk keys for every column,
    // bounded per column (a dead-heavy sibling cannot cost a clean
    // column its pushed-keys path)
    val deadKeys = fallbackKeys(meta, cols.map(c => c -> !aliveE(c)))

    val decodedParts = cols.flatMap { c =>
      val decoded =
        if (deadKeys(c).exists(_.isEmpty)) None
        else Some(decodeChunks(spark, storeDir, schema, c, !aliveE(c), deadKeys(c)))
      decoded.map { df =>
        val domain = MetaIndex.flatOf(schema)(c).dataType match {
          case BooleanType => when(col(c), "1").otherwise("0")
          case StringType => col(c)
          case _ => col(c).cast("string")
        }
        df.filter(col(c).isNotNull)
          .select(lit(c).as("col_name"), domain.as("value"), lit(1L).as("cnt"))
      }
    }
    (metaPart +: decodedParts).reduce(_ union _)
      .groupBy("col_name", "value").agg(sum("cnt").as("cnt"))
  }

  /** (min, max) of `colName` over the store, None for an empty/all-null
    * column. Values are in the column's real type (long-backed
    * integrals as Long, float/double as Double, strings as String,
    * timestamps/dates/decimals in their integer zone domain — the same
    * domain MetaIndex predicates use).
    */
  def minMax(spark: SparkSession, storeDir: String, schema: StructType,
             colName: String): (Option[Any], Option[Any]) =
    minMaxAll(spark, storeDir, schema, Seq(colName)).byCol(colName)

  final case class MinMaxAll(nRows: Long, byCol: Map[String, (Option[Any], Option[Any])])

  /** Batched multi-column (min, max) — plus the store row count — from
    * ONE metadata scan / ONE job. Columns with unbounded chunks decode
    * ONLY those chunks' one column each (their keys collected together
    * in one additional job); bounded columns never touch a payload
    * byte.
    */
  def minMaxAll(spark: SparkSession, storeDir: String, schema: StructType,
                cols: Seq[String]): MinMaxAll = {
    val dts: Map[String, DataType] = cols.map { c =>
      val dt = MetaIndex.flatOf(schema)(c).dataType
      dt match {
        case StringType | FloatType | DoubleType | BooleanType | ByteType | ShortType |
             IntegerType | LongType | DateType | TimestampType | TimestampNTZType => ()
        case d: DecimalType if d.precision <= 18 => ()
        case other => throw new IllegalArgumentException(
          s"minMax: $c is $other — zone keys of this type are not orderable scalars")
      }
      c -> dt
    }.toMap
    val meta = Snapshots.storeDf(spark, storeDir)

    // one wide aggregate: [nRows, per col (min, max, nUnbounded)]
    def minMaxCols(c: String): (Column, Column) = {
      val (mn, mx) = (col(s"${fld(c)}.minKey"), col(s"${fld(c)}.maxKey"))
      dts(c) match {
        case StringType =>
          (min(when(mn =!= "", mn)), max(when(mx =!= "", mx)))
        case FloatType | DoubleType =>
          (min(when(mn =!= "", mn.cast("double"))), max(when(mx =!= "", mx.cast("double"))))
        case _ => // integral / boolean / date / timestamp / narrow decimal: long domain
          (min(when(mn =!= "", mn.cast("bigint"))), max(when(mx =!= "", mx.cast("bigint"))))
      }
    }
    val aggs = Seq(sum(col("nRows").cast("bigint")).as("n")) ++ cols.flatMap { c =>
      val (mn, mx) = minMaxCols(c)
      Seq(mn, mx, sum(when(unboundedE(c), 1L).otherwise(0L)))
    }
    val row = meta.agg(aggs.head, aggs.tail: _*).head()
    val nRows = if (row.isNullAt(0)) 0L else row.getLong(0)

    val needFb = cols.zipWithIndex
      .filter { case (_, i) => !row.isNullAt(1 + i * 3 + 2) && row.getLong(1 + i * 3 + 2) > 0L }
      .map(_._1)
    // ONE key-collect job for every column with unbounded chunks,
    // bounded per column
    val fbKeys = fallbackKeys(meta, needFb.map(c => c -> unboundedE(c)))

    val byCol = cols.zipWithIndex.map { case (c, i) =>
      val boundedMin = if (row.isNullAt(1 + i * 3)) None else Some(row.get(1 + i * 3))
      val boundedMax = if (row.isNullAt(1 + i * 3 + 1)) None else Some(row.get(1 + i * 3 + 1))
      val nUnb = if (row.isNullAt(1 + i * 3 + 2)) 0L else row.getLong(1 + i * 3 + 2)
      if (nUnb == 0L) c -> (boundedMin, boundedMax)
      else {
        val decoded = decodeChunks(spark, storeDir, schema, c, unboundedE(c), fbKeys(c))
        c -> foldDecoded(decoded, c, dts(c), boundedMin, boundedMax)
      }
    }.toMap
    MinMaxAll(nRows, byCol)
  }

  /** min/max over decoded fallback chunks folded into the bounded-zone
    * result (both in the zone domain).
    */
  private def foldDecoded(decoded: DataFrame, colName: String, dt: DataType,
                          boundedMin: Option[Any], boundedMax: Option[Any]): (Option[Any], Option[Any]) = {
    // NaN is excluded like NULL (zone semantics: a NaN-bearing chunk is
    // unbounded, and its finite values still count) — NOTE this differs
    // from Spark/DuckDB column max, which order NaN greatest
    val v0 = col(colName)
    val v = dt match {
      case FloatType | DoubleType => when(!isnan(v0), v0)
      case _ => v0
    }
    val decodedRow = decoded.agg(min(v).as("mn"), max(v).as("mx")).head()
    // decoded values arrive in the real column type; bring the integer-
    // domain types back to the zone domain so both sources combine
    def toDomain(v: Any): Any = v match {
      case t: java.sql.Timestamp => t.getTime * 1000L + (t.getNanos / 1000) % 1000
      case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
      case l: java.time.LocalDateTime => // TimestampNTZ → micros
        l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + l.getNano / 1000
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: java.time.LocalDate => d.toEpochDay
      case d: java.math.BigDecimal => d.unscaledValue().longValueExact() // narrow decimal → unscaled
      case d: scala.math.BigDecimal => d.underlying().unscaledValue().longValueExact()
      case b: Boolean => if (b) 1L else 0L
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case f: Float => f.toDouble
      case other => other
    }
    val decodedMin = if (decodedRow.isNullAt(0)) None else Some(toDomain(decodedRow.get(0)))
    val decodedMax = if (decodedRow.isNullAt(1)) None else Some(toDomain(decodedRow.get(1)))

    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: Double, y: Double) => x < y
      case (x: String, y: String) =>
        // UTF-8 BINARY order — the zone-key / Spark / DuckDB collation.
        // String.compareTo is UTF-16 code-unit order, which disagrees
        // for supplementary-plane characters (U+FFFD vs an emoji).
        java.util.Arrays.compareUnsigned(
          x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
          y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
      case _ => throw new IllegalStateException(s"incomparable zone values $a / $b")
    }
    val mn = (boundedMin.toSeq ++ decodedMin.toSeq).reduceOption((a, b) => if (lt(a, b)) a else b)
    val mx = (boundedMax.toSeq ++ decodedMax.toSeq).reduceOption((a, b) => if (lt(a, b)) b else a)
    (mn, mx)
  }
}
