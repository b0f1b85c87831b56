package graft

import graft.lineage.{GeneratedCols, Lineage}
import org.apache.spark.sql.functions._

/** User-expression generated columns: materialize, per-shard staleness
  * after a CoW mutation, and SELECTIVE refresh (only the mutated shard
  * is recomputed; untouched shards' sidecar files are not rewritten).
  */
class GeneratedColsSpec extends SparkTestBase {

  import spark.implicits._

  test("add + read: generated values match the expression on every row") {
    val df = (0 until 2000).map(i => (i.toLong, s"user$i", (i % 97).toLong))
      .toDF("id", "name", "v")
    val dir = tmpDir("gen")
    Lineage.encodeResumable(spark, df, dir, idCols = Seq("id"), nShards = 8, nBatches = 2)
    GeneratedCols.add(spark, dir, df.schema, "v2", "v * 2 + length(name)", Seq("id"))

    val r = GeneratedCols.read(spark, dir, df.schema, "v2")
    assert(r.count() == 2000)
    assert(r.filter(col("v2") =!= (col("v") * 2 + length(col("name")))).count() == 0)
    assert(GeneratedCols.staleShards(spark, dir, "v2").isEmpty)
  }

  test("updateWhere flags exactly the mutated shard stale; refresh recomputes only it") {
    val df = (0 until 2000).map(i => (i.toLong, s"user$i", (i % 97).toLong))
      .toDF("id", "name", "v")
    val dir = tmpDir("gen")
    Lineage.encodeResumable(spark, df, dir, idCols = Seq("id"), nShards = 8, nBatches = 2)
    GeneratedCols.add(spark, dir, df.schema, "v2", "v * 2 + length(name)", Seq("id"))

    // the shard that id=42 hashes to, via the same expression Lineage uses
    val hitShard = df.select(pmod(xxhash64(col("id")), lit(8)).cast("int"))
      .where(col("id") === 42).head().getInt(0)
    val sidecar = GeneratedCols.dataPath(dir, "v2")
    def mtimes(shard: Int): Map[String, Long] = {
      val d = new java.io.File(s"$sidecar/shard=$shard")
      d.listFiles().filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified()).toMap
    }
    val untouched = (0 until 8).find(_ != hitShard).get
    val before = mtimes(untouched)

    val n = Lineage.updateWhere(spark, dir, df.schema, col("id") === 42,
      Map("v" -> lit(1000L)), idCols = Seq("id"))
    assert(n == 1)

    val stale = GeneratedCols.staleShards(spark, dir, "v2")
    assert(stale == Seq(hitShard), s"stale=$stale expected=Seq($hitShard)")
    // read refuses while stale
    intercept[IllegalArgumentException] {
      GeneratedCols.read(spark, dir, df.schema, "v2")
    }

    val refreshed = GeneratedCols.refresh(spark, dir, df.schema, "v2")
    assert(refreshed == Seq(hitShard))
    assert(GeneratedCols.staleShards(spark, dir, "v2").isEmpty)
    // only the stale shard's sidecar partition was rewritten
    assert(mtimes(untouched) == before, "untouched shard's sidecar files were rewritten")

    val r = GeneratedCols.read(spark, dir, df.schema, "v2")
    // v=1000, name="user42" (6 chars) → v2 = 2006
    assert(r.filter(col("id") === 42).select("v2").head().getLong(0) == 2006L)
    assert(r.filter(col("v2") =!= (col("v") * 2 + length(col("name")))).count() == 0)
    // idempotent: second refresh is a no-op
    assert(GeneratedCols.refresh(spark, dir, df.schema, "v2").isEmpty)
  }
  test("the manifest keeps empty shards: the upsert hash modulus is stable") {
    import spark.implicits._
    // 3 distinct keys over 8 shards → several shards are empty from the
    // start; the manifest must keep one row per shard regardless
    val df = (0 until 3).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val dir = tmpDir("refresh")
    Lineage.encodeResumable(spark, df, dir, idCols = Seq("id"), nShards = 8, nBatches = 1)
    assert(Lineage.storeShardCount(spark, dir).contains(8),
      "the manifest dropped empty shards — upsert would hash keys with the wrong modulus")
  }
}

