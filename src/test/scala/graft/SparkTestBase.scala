package graft

import graft.encode.EncodedBlock
import org.apache.spark.sql.{Dataset, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session —
  * getOrCreate dedups across suites).
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh directory `graft-<tag>…` under the system temp dir,
    * deleted with everything in it when the suite ends.
    */
  protected def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-$tag").toFile
    tmpDirs.add(d)
    d.toString
  }

  override protected def afterAll(): Unit =
    try tmpDirs.forEach(d => { org.apache.hadoop.fs.FileUtil.fullyDelete(d); () })
    finally super.afterAll()

  /** Total task inputMetrics.bytesRead across `body`'s jobs. Parquet's
    * Hadoop vectored IO reads data pages through positioned range reads
    * that bypass the FileSystem thread statistics feeding bytesRead
    * (only footer reads get counted) — disabled ONLY around each
    * measurement (the session is shared JVM-wide across suites).
    */
  protected def bytesRead(body: => Unit): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val prior = conf.get("parquet.hadoop.vectored.io.enabled")
    conf.setBoolean("parquet.hadoop.vectored.io.enabled", false)
    val acc = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) { acc.addAndGet(m.inputMetrics.bytesRead); () }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graftshim.TestListenerShim.waitUntilEmpty(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      if (prior == null) conf.unset("parquet.hadoop.vectored.io.enabled")
      else conf.set("parquet.hadoop.vectored.io.enabled", prior)
    }
    acc.get()
  }

  /** Field → leaf names of every struct column the parquet scans of
    * `df`'s physical plan read: what the reader maps of each store
    * chunk struct.
    */
  protected def scanStructLeaves(df: org.apache.spark.sql.DataFrame): Map[String, Set[String]] = {
    import org.apache.spark.sql.types.{StructField, StructType}
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, s"no parquet scan in ${df.queryExecution.sparkPlan}")
    scans.flatMap(_.requiredSchema.fields.collect {
      case StructField(n, st: StructType, _, _) => n -> st.fieldNames.toSet
    }).groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  /** The zone pass of [lo, hi] on `colName` maps zone leaves only: the
    * rows of the `StoreLayout.probe` a lookup runs.
    */
  protected def assertZonePassMetadataOnly(storeDir: String, colName: String, lo: String, hi: String): Unit = {
    import graft.encode.{MetaIndex, Snapshots, StoreLayout}
    val leaves = scanStructLeaves(StoreLayout.probeRows(Snapshots.storeDf(spark, storeDir),
      Seq(MetaIndex.zoneHitOn(colName, Some(lo), Some(hi)))))
    assert(leaves.nonEmpty, s"no chunk structs in the zone pass of $colName")
    leaves.foreach { case (n, fields) =>
      assert(fields.subsetOf(Set("name", "dt", "minKey", "maxKey")),
        s"zone pass must not read payload/sha of $n, got $fields")
    }
  }

  /** Number of Spark jobs `body` launches, counted by job group (the
    * status tracker is fed by the listener bus, so flush it first).
    */
  protected def jobsIn(group: String)(body: => Unit): Int = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
    org.apache.spark.sql.graftshim.TestListenerShim.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val numericDts = Set("bigint", "int", "smallint", "tinyint", "boolean",
    "double", "float", "date", "timestamp", "timestamp_ntz")

  /** Blocks whose zone on `colName` may intersect [lo, hi], decided
    * on the typed blocks: `MetaIndex.zoneHit`'s rule restated in plain
    * Scala, a reference for the store-side pruning.
    */
  def zoneCandidates(blocks: Dataset[EncodedBlock], colName: String,
                     lo: String, hi: String): Dataset[EncodedBlock] =
    blocks.filter { b =>
      b.cols.find(_.name == colName).forall { c =>
        val numeric = numericDts.contains(c.dt) || c.dt.startsWith("decimal")
        if (c.minKey.isEmpty && c.maxKey.isEmpty) true
        else if (numeric) {
          val minV = if (c.minKey.isEmpty) Double.NegativeInfinity else c.minKey.toDouble
          val maxV = if (c.maxKey.isEmpty) Double.PositiveInfinity else c.maxKey.toDouble
          !(maxV < lo.toDouble || minV > hi.toDouble)
        } else {
          import java.nio.charset.StandardCharsets.UTF_8
          def cmp(a: String, b: String) = java.util.Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))
          (c.maxKey.isEmpty || cmp(c.maxKey, lo) >= 0) && (c.minKey.isEmpty || cmp(c.minKey, hi) <= 0)
        }
      }
    }
}
