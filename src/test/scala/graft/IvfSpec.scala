package graft

import graft.ops.Ivf
import org.apache.spark.sql.functions._

/** IVF ANN: trained-centroid store must serve probes via partition
  * pruning and recover planted clusters; training must be deterministic
  * and the persisted centroid meta must roundtrip bit-exactly.
  */
class IvfSpec extends SparkTestBase {

  import spark.implicits._

  private val dim = 32
  private def vec(seed: Long): Array[Float] = Array.tabulate(dim) { i =>
    ((graft.corpus.Corpus.mix(seed * 131 + i) >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
  }

  /** 4 planted clusters of 50 vectors each: cluster c = center vec(c)
    * plus small per-member noise, so k-means with c>=4 should separate
    * them and a probe near a center should stay inside one cell.
    */
  private lazy val df = {
    val rows = for {
      c <- 0 until 4
      m <- 0 until 50
    } yield {
      val ctr = vec(9000L + c)
      val n = vec(c * 1000L + m)
      ((c * 50 + m).toLong, ctr.zip(n).map { case (a, b) => a + 0.05f * b }.toSeq)
    }
    rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
  }

  private lazy val cents = Ivf.train(df, "vec_id", "embedding", c = 4, iters = 4)
  private lazy val storeDir = {
    val dir = tmpDir("ivf")
    Ivf.writeIvfStore(df, "vec_id", "embedding", dir, cents)
    dir
  }

  test("train is deterministic and separates the planted clusters") {
    val again = Ivf.train(df, "vec_id", "embedding", c = 4, iters = 4)
    assert(cents.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq, "train must be reproducible")
    // every planted cluster should map (almost) wholly to one cell
    val assign = df.select((col("vec_id") / 50).cast("int").as("truth"),
        Ivf.cellCol(col("embedding"), cents).as("cell"))
      .groupBy("truth", "cell").count().collect()
    val purity = assign.groupBy(_.getInt(0)).values.map { rows =>
      rows.map(_.getLong(2)).max.toDouble / rows.map(_.getLong(2)).sum
    }
    assert(purity.forall(_ >= 0.9), s"cluster purity too low: ${purity.toSeq}")
  }

  test("store probe equals the in-memory probe and recovers the planted cluster") {
    val q = vec(9000L + 2) // cluster-2 center
    val mem = Ivf.topK(df, "vec_id", "embedding", cents, q, 10, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    val store = Ivf.topKFromStore(spark, storeDir, "vec_id", "embedding", q, 10, nProbe = 1)
      .collect().map(_.getLong(0)).toSet
    assert(store == mem, s"store=$store mem=$mem")
    assert(store.forall(id => id >= 100 && id < 150), s"expected cluster-2 members, got $store")
  }

  test("probe reads only the nProbe cell partitions") {
    val q = vec(9000L)
    val probe = Ivf.topKFromStore(spark, storeDir, "vec_id", "embedding", q, 5, nProbe = 2)
    val scan = probe.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec"))
    assert(scan.toString.contains("PartitionFilters: [") && scan.toString.contains("cell"),
      s"cell filter must be a partition filter:\n$scan")
    probe.collect()
    // numFiles counts files AFTER partition pruning (inputFiles lists all)
    assert(scan.metrics("numFiles").value <= 2,
      s"nProbe=2 must read <= 2 cell dirs, got ${scan.metrics("numFiles").value}")
  }

  test("centroid meta roundtrips bit-exactly") {
    val meta = Ivf.readIvfMeta(spark, storeDir)
    assert(meta.c == 4 && meta.dim == dim)
    assert(meta.cents.map(_.toSeq).toSeq == cents.map(_.toSeq).toSeq)
  }

  test("ties and empty cells are handled: lowest cell wins, empty cell keeps centroid") {
    // two identical centroids -> every row ties -> all go to cell 0
    val twin = Array(vec(1L), vec(1L))
    val cells = df.select(Ivf.cellCol(col("embedding"), twin).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(cells == Set(0), s"tie must take the lowest cell id, got $cells")
  }
}
