package graft

import graft.lineage.Lineage
import org.apache.spark.sql.functions._

/** The upsert broadcast size gate: above `graft.upsert.broadcastMaxKeys`
  * Lineage must NOT force a broadcast of the key set (a 100M-key
  * broadcast would OOM every executor); below it the explicit hint is
  * used. Broadcast thresholds are pinned to -1 so a BroadcastHashJoin
  * can ONLY appear through the explicit hint — the recorded join plan
  * (Lineage.lastUpsertJoinPlan; the join runs inside the encode RDD so
  * no SQL-execution event carries it) distinguishes the two directly.
  */
class UpsertJoinSpec extends SparkTestBase {

  import spark.implicits._

  private def freshStore(n: Int): String = {
    val df = (0 until n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val dir = tmpDir("upjoin")
    Lineage.encodeResumable(spark, df, dir, idCols = Seq("id"), nShards = 4, nBatches = 1)
    dir
  }

  private def withNoAutoBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("upsert above the broadcast-key gate does not force a broadcast") {
    val dir = freshStore(500)
    val updates = (400 until 600).map(i => (i.toLong, s"NEW$i")).toDF("id", "v")
    withNoAutoBroadcast {
      spark.conf.set(Lineage.BROADCAST_KEYS_CONF, "10") // 200 keys >> gate
      try {
        val (replaced, inserted) = Lineage.upsert(spark, dir, updates.schema, updates, Seq("id"))
        assert(replaced == 100L && inserted == 100L, s"($replaced, $inserted)")
      } finally spark.conf.unset(Lineage.BROADCAST_KEYS_CONF)
    }
    val plan = Lineage.lastUpsertJoinPlan
    assert(plan.contains("LeftAnti"), s"no anti-join in recorded plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"gated upsert still broadcast its key set:\n$plan")
    // values correct after the shuffle-join path
    val back = graft.encode.TableCodec.decode(Lineage.readBlocks(spark, dir), updates.schema)
    assert(back.count() == 600)
    assert(back.filter(col("id") === 450).select("v").head().getString(0) == "NEW450")
  }

  test("upsert below the gate uses the explicit broadcast hint") {
    val dir = freshStore(300)
    val updates = Seq((1L, "X"), (300L, "Y")).toDF("id", "v")
    withNoAutoBroadcast { // thresholds -1: only the hint can broadcast
      val (replaced, inserted) = Lineage.upsert(spark, dir, updates.schema, updates, Seq("id"))
      assert(replaced == 1L && inserted == 1L)
    }
    val plan = Lineage.lastUpsertJoinPlan
    assert(plan.contains("LeftAnti"), s"no anti-join in recorded plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"small upsert should broadcast its key set via the explicit hint:\n$plan")
  }
}
