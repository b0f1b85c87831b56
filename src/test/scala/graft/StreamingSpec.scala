package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming coverage: a watermarked windowed aggregation in
  * the events shape.
  */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  test("watermarked tumbling-window aggregation over a rate-like stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = events.toDF().toDF("ts", "event_type", "value")
    val agg = df
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_agg")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    events.addData((ts(0), "click", 1.0), (ts(1), "click", 2.0), (ts(6), "view", 5.0))
    q.processAllAvailable()
    val rows = spark.table("win_agg").collect()
    assert(rows.length == 2)
    val click = rows.find(_.getString(1) == "click").get
    assert(click.getLong(2) == 2 && click.getDouble(3) == 3.0)
    q.stop()
  }
}
