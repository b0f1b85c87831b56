package graft

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** Bucketed ANN store: probes must be served by partition pruning, not
  * a full recompute-and-scan.
  */
class AnnStoreSpec extends SparkTestBase {

  import spark.implicits._

  private val dim = 32
  private def vec(seed: Long): Array[Float] = Array.tabulate(dim) { i =>
    ((graft.corpus.Corpus.mix(seed * 131 + i) >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
  }

  private lazy val q = vec(999L)
  private lazy val df = {
    val noise = (0L until 500L).map(i => (i, vec(i).toSeq))
    val planted = (1000L until 1005L).map { i =>
      val p = vec(7000L + i)
      (i, q.zip(p).map { case (a, b) => a + 0.1f * b }.toSeq)
    }
    (noise ++ planted).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }
  private lazy val storeDir: String = {
    val dir = tmpDir("ann")
    Similarity.writeBucketedStore(df, "vec_id", "embedding", dir, nPlanes = 8)
    dir
  }

  test("store probe equals the in-memory LSH probe") {
    val mem = Similarity.lshTopK(df, "vec_id", "embedding", q, 5, nPlanes = 8)
      .collect().map(_.getLong(0)).toSet
    val store = Similarity.lshTopKFromStore(spark, storeDir, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0)).toSet
    assert(store == mem, s"store=$store mem=$mem")
    assert(store.intersect((1000L until 1005L).toSet).size >= 4, s"recall: $store")
  }

  test("probe reads only probe-bucket partitions (partition pruning)") {
    val probe = Similarity.lshTopKFromStore(spark, storeDir, "vec_id", "embedding", q, 5)
    val scan = probe.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec"))
    val planStr = scan.toString
    assert(planStr.contains("PartitionFilters: [") && planStr.contains("bucket"),
      s"bucket filter must be a partition filter:\n$planStr")
    // the store has many bucket dirs; the probe may list at most nPlanes+1
    val allBuckets = spark.read.parquet(storeDir).select("bucket").distinct().count()
    assert(allBuckets > 9, s"store should spread across buckets, got $allBuckets")
    val probed = Similarity.probeBuckets(q, 8, 7L).toSet
    assert(probed.size <= 9)
  }
}
