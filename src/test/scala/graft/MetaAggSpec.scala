package graft

import graft.encode.{MetaAgg, Snapshots, StoreLayout, TableCodec}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType, TimestampNTZType}

/** The one fallback rule every MetaAgg aggregate shares: a chunk is
  * decoded for a column only when its stat there is undefined AND it
  * holds a non-null value. Each aggregate must equal Spark's own
  * aggregate over the raw rows.
  */
class MetaAggSpec extends SparkTestBase {

  private val Top = Long.MaxValue
  private val X = BigDecimal("9999999999999999.99") // unscaled 10^18 - 1

  /** 48 rows in one partition at chunkRows = 12 → four chunks of ids
    * 12j..12j+11:
    *  - `nul` is null everywhere: every chunk's stats are undefined,
    *    and none holds a value;
    *  - `inf` is +Infinity in chunk 0 (its minKey is "");
    *  - `top` is Long.MaxValue in chunk 0 (the min sentinel leaves its
    *    minKey "" with values present; its running sum overflows) and
    *    -Long.MaxValue in chunk 1 (running sum overflows);
    *  - `ts` / `ntz` are `top`'s chunk 0 as Long.MaxValue micros;
    *  - `dec` overflows its running unscaled sum in chunk 0 only.
    */
  private lazy val df: DataFrame = spark.range(0, 48, 1, 1).select(
    col("id"),
    lit(null).cast(LongType).as("nul"),
    when(col("id") < 12, lit(Double.PositiveInfinity)).otherwise(col("id") * 0.5).as("inf"),
    when(col("id") < 12, lit(Top)).when(col("id") < 24, lit(-Top)).otherwise(col("id")).as("top"),
    timestamp_micros(when(col("id") < 12, lit(Top)).otherwise(col("id"))).as("ts"),
    timestamp_micros(when(col("id") < 12, lit(Top)).otherwise(col("id"))).cast(TimestampNTZType).as("ntz"),
    when(col("id") < 10, lit(X)).when(col("id") < 20, lit(-X))
      .otherwise((col("id") / 4).cast(DecimalType(18, 2))).as("dec")).cache()

  private lazy val dir: String = {
    val d = tmpDir("metaagg-rule")
    StoreLayout.write(TableCodec.encode(df, chunkRows = 12), df.schema.fieldNames.toSeq, d)
    d
  }

  private def opt(r: Row, i: Int): Option[Any] = Option(r.get(i))

  test("fixture: the chunk stats the rule is about are undefined where claimed") {
    val store = Snapshots.storeDf(spark, dir).orderBy("chunkId")
    def keys(c: String, f: String) = store.select(s"g_$c.$f").collect().map(_.getString(0)).toSeq
    assert(store.count() == 4L)
    assert(keys("nul", "minKey").forall(_.isEmpty) && keys("nul", "sumKey").forall(_.isEmpty))
    assert(keys("inf", "minKey").head.isEmpty && keys("inf", "maxKey").head == "Infinity")
    assert(keys("top", "minKey").head.isEmpty && keys("top", "maxKey").head == Top.toString)
    assert(keys("top", "sumKey").take(2).forall(_.isEmpty))
    assert(keys("ts", "minKey").head.isEmpty && keys("ntz", "minKey").head.isEmpty)
    assert(keys("dec", "sumKey").head.isEmpty && keys("dec", "sumKey").tail.forall(_.nonEmpty))
  }

  test("minMaxAll equals the raw min/max and decodes no all-null chunk") {
    val cols = Seq("nul", "inf", "top", "ts", "ntz", "dec")
    val mm = MetaAgg.minMaxAll(spark, dir, df.schema, cols)
    val raw = df.agg(min("nul"), max("nul"), min("inf"), max("inf"), min("top"), max("top"),
      unix_micros(min("ts")), unix_micros(max("ts")), min("dec"), max("dec")).head()
    def unscaled(v: Option[Any]) = v.map(_.asInstanceOf[java.math.BigDecimal].unscaledValue.longValueExact)
    assert(mm.nRows == 48L)
    assert(mm.byCol("nul") == ((None, None)))
    assert(mm.byCol("inf") == ((opt(raw, 2), opt(raw, 3))))
    assert(mm.byCol("top") == ((opt(raw, 4), opt(raw, 5))))
    assert(mm.byCol("ts") == ((opt(raw, 6), opt(raw, 7))))
    assert(mm.byCol("ntz") == mm.byCol("ts"))
    assert(mm.byCol("dec") == ((unscaled(opt(raw, 8)), unscaled(opt(raw, 9)))))
    // every chunk of `nul` is unbounded, and none holds a value to decode
    var nulOnly: MetaAgg.MinMaxAll = null
    val n = jobsIn("metaagg-rule-nul") { nulOnly = MetaAgg.minMaxAll(spark, dir, df.schema, Seq("nul")) }
    assert(n <= 2, s"minMaxAll over all-null chunks ran $n jobs, want the no-fallback count (<= 2)")
    assert(nulOnly.byCol("nul") == ((None, None)))
  }

  test("stats equals the raw sums and non-null counts") {
    val st = MetaAgg.stats(spark, dir, df.schema, sumCols = Seq("nul", "top", "dec"),
      nonNullCols = Seq("nul", "inf", "top"))
    val raw = df.agg(sum(col("nul").cast(DecimalType(38, 0))), sum(col("top").cast(DecimalType(38, 0))),
      sum("dec"), count("nul"), count("inf"), count("top")).head()
    assert(st.nRows == 48L)
    assert(st.sums("nul").isEmpty && raw.isNullAt(0))
    assert(st.sums("top").map(BigInt(_)) == Some(BigInt(raw.getDecimal(1).toBigIntegerExact)))
    assert(st.sums("dec").map(BigInt(_)) == Some(BigInt(raw.getDecimal(2).unscaledValue)))
    assert(st.nonNull == Map("nul" -> raw.getLong(3), "inf" -> raw.getLong(4), "top" -> raw.getLong(5)))
  }

  test("groupCountAll equals the raw group-by counts") {
    val got = MetaAgg.groupCountAll(spark, dir, df.schema, Seq("nul", "top")).collect()
      .map(r => ((r.getString(0), Option(r.getString(1))), r.getLong(2))).toMap
    val raw = Seq("nul", "top").flatMap { c =>
      df.groupBy(col(c).cast("string")).count().collect()
        .map(r => ((c, Option(r.getString(0))), r.getLong(1)))
    }.toMap
    assert(got == raw)
  }
}
