package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Batch sessionization: split each key's event stream into sessions at
  * inactivity gaps > `gapUs` (the classic clickstream/telemetry
  * operator; the streaming twin is Structured Streaming's session
  * window).
  *
  * Spark-first shape: one shuffle on the key, then two stacked per-key
  * ordered window passes — `lag` marks session starts (gap from the
  * previous event), a running sum turns the marks into session ordinals
  * (the standard gaps-and-islands construction, fully expressible in
  * windowed SQL — which is exactly how the oracle recomputes it). No
  * state beyond the window sort; hot keys serialize per key like every
  * ordered window (sliced AsOf shows the salting escape hatch).
  *
  * Ordering ties on (key, ts) are broken by `tieCol` so the ordinal
  * assignment is deterministic and engine-independent.
  */
object Sessionize {

  private def micros(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case TimestampType    => unix_micros(col(c))
    case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
    case other => throw new IllegalArgumentException(s"ts column '$c' has type $other")
  }

  /** Adds `session` (0-based per-key session ordinal) and `gap_us`
    * (micros since the key's previous event; null on the first).
    */
  def assign(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
             gapUs: Long): DataFrame = {
    require(gapUs > 0, "gapUs must be positive")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    val withGap = events
      .withColumn("gap_us", micros(events, tsCol) - lag(micros(events, tsCol), 1).over(w))
    withGap.withColumn("session",
      sum(when(col("gap_us").isNull || col("gap_us") > lit(gapUs), 1L).otherwise(0L))
        .over(w) - lit(1L))
  }

  /** Per-session summary: events, span, value sum — one row per
    * (key, session).
    */
  def summary(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
              gapUs: Long, valueCol: String): DataFrame =
    assign(events, keyCol, tsCol, tieCol, gapUs)
      .groupBy(col(keyCol), col("session"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(micros(events, tsCol)) - min(micros(events, tsCol))).as("span_us"),
        sum(col(valueCol)).as("value_sum"))

  /** [[assign]] with the hot-key escape hatch (mirrors AsOf.joinSliced,
    * the r5 verdict's remaining skew note): windows partition by
    * (key, time-slice of `sliceWidthUs`), so one key's events spread
    * over as many tasks as it spans slices instead of serializing in a
    * single ordered window. Session ordinals are stitched across slice
    * boundaries through a per-(key, slice) TIMELINE — one row per
    * key×slice carrying the previous slice's last timestamp (decides
    * whether a slice's first event opens a session) and the running
    * boundary count entering the slice (the ordinal base). The per-key
    * window everyone fears then runs over slice counts, not row counts.
    *
    * Output is row-identical to [[assign]] (same `gap_us`, same
    * `session` ordinals) — SessionizeSpec asserts equivalence on a
    * randomized hot-key fixture. Pick `sliceWidthUs` ≫ gapUs (so most
    * gaps resolve in-slice) and ≪ the hot key's span (so it yields many
    * slices); gapUs × ~1000 is a reasonable default.
    *
    * CONTRACT: `tsCol` must be non-null. [[assign]]'s incidental
    * null-ts behavior (every null-ts row opens its own session via the
    * null gap) is NOT replicated here — null timestamps have no
    * well-defined slice, and the cross-slice ordinal base would
    * under-count their boundaries. Filter or repair null timestamps
    * upstream before slicing.
    */
  def assignSliced(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
                   gapUs: Long, sliceWidthUs: Long): DataFrame = {
    require(gapUs > 0, "gapUs must be positive")
    require(sliceWidthUs > 0, "sliceWidthUs must be positive")
    val m = micros(events, tsCol)
    // floor-div to the slice ordinal (pmod handles pre-epoch micros)
    val slc = ((m - pmod(m, lit(sliceWidthUs))) / lit(sliceWidthUs)).cast("long")
    val wLoc = Window.partitionBy(col(keyCol), col("_slc")).orderBy(col(tsCol), col(tieCol))
    val local = events
      .withColumn("_m", m).withColumn("_slc", slc)
      .withColumn("_gl", col("_m") - lag(col("_m"), 1).over(wLoc)) // null on slice's first event
      .withColumn("_bl", when(col("_gl") > lit(gapUs), 1L).otherwise(0L)) // in-slice boundary

    // per-(key, slice) timeline: last/first ts + internal boundary count
    val slices = local.groupBy(col(keyCol), col("_slc"))
      .agg(min(col("_m")).as("_first"), max(col("_m")).as("_last"), sum(col("_bl")).as("_nb"))
    val tw = Window.partitionBy(col(keyCol)).orderBy(col("_slc"))
    val prevLast = lag(col("_last"), 1).over(tw) // slices exist only when non-empty
    val firstB = when(prevLast.isNull || (col("_first") - prevLast) > lit(gapUs), 1L).otherwise(0L)
    val carries = slices
      .withColumn("_pl", prevLast)
      .withColumn("_fb", firstB)
      .withColumn("_base", coalesce(
        sum(col("_nb") + col("_fb")).over(tw.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(keyCol), col("_slc"), col("_pl"), col("_fb"), col("_base"))

    // stitch: slice's first event takes the carried gap/boundary; the
    // ordinal is the carried base + the in-slice running boundary count
    local.join(carries, Seq(keyCol, "_slc"))
      .withColumn("gap_us", when(col("_gl").isNull, col("_m") - col("_pl")).otherwise(col("_gl")))
      .withColumn("_b", when(col("_gl").isNull, col("_fb")).otherwise(col("_bl")))
      .withColumn("session",
        col("_base") + sum(col("_b")).over(
          wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - lit(1L))
      .drop("_m", "_gl", "_bl", "_pl", "_fb", "_base", "_b", "_slc")
  }

  /** [[summary]] over the sliced assignment — identical rows, hot keys
    * spread across slices.
    */
  def summarySliced(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
                    gapUs: Long, valueCol: String, sliceWidthUs: Long): DataFrame =
    assignSliced(events, keyCol, tsCol, tieCol, gapUs, sliceWidthUs)
      .groupBy(col(keyCol), col("session"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(micros(events, tsCol)) - min(micros(events, tsCol))).as("span_us"),
        sum(col(valueCol)).as("value_sum"))
}
