package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import scala.collection.mutable

final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      cores: Int, work: String, report: String)

/** What one run shares between the harness and a workload. */
final class Ctx(var spark: SparkSession, val conf: Conf, val tracer: Tracer,
                val counters: SparkCounters, val heap: HeapWatch) {
  def sc: org.apache.spark.SparkContext = spark.sparkContext

  /** A fresh, empty directory under the run's work dir. */
  def dir(name: String): String = {
    val f = new java.io.File(conf.work, name)
    Files.delete(f)
    f.getParentFile.mkdirs()
    f.getAbsolutePath
  }

  /** Run `body` as benchmark-owned work (checks, oracles): its Spark
    * jobs are charged to `check`, not to the operation.
    */
  def check[A](body: => A): A = SparkCounters.tag(sc, "check")(tracer.span("check")(body))
}

object Files {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
    ()
  }
}

/** Order-independent content digest of a row set: row count and the
  * wrapping-free sum of a 64-bit row hash.
  */
final case class Digest(rows: Long, hash: java.math.BigDecimal) {
  def same(o: Digest): Boolean = rows == o.rows && hash.compareTo(o.hash) == 0
}

object Digest {
  val D: DecimalType = DecimalType(38, 0)

  def hashCol(cols: Seq[String]) = xxhash64(cols.map(col): _*).cast(D)

  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val r = df.agg(count(lit(1)), coalesce(sum(hashCol(cols)), lit(0).cast(D))).head()
    Digest(r.getLong(0), r.getDecimal(1))
  }

  /** Digest per distinct value of `key`. */
  def byKey(df: DataFrame, key: String, cols: Seq[String]): Map[String, Digest] =
    df.groupBy(col(key)).agg(count(lit(1)), sum(hashCol(cols))).collect()
      .map(r => r.getString(0) -> Digest(r.getLong(1), r.getDecimal(2))).toMap
}

/** One measured operation. */
final case class OpRec(kind: String, ms: Double, traced: Boolean)

/** A workload: set-up, then whole blocks of operations in a closed loop
  * until the run's time is up.
  */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** The most frequent op kind: its median latency is `op_p50_ms`. */
  def primary: String
  /** The op kind that reads or writes the whole corpus: `bulk_gbps`. */
  def bulk: String
  /** Every op kind the workload issues. */
  def kinds: Seq[String]
  /** Corpus rows of the measured set-up. */
  def rows: Long
  /** Set-up, timed: write a seeded corpus of `rows` rows and build the
    * workload's stores from scratch.
    */
  def build(rows: Long): Unit
  /** After the last `build`, untimed: the oracles the checks use. */
  def prepare(): Unit = ()
  /** Op kinds of the `b`-th block. */
  def block(b: Int): Seq[String]
  /** Blocks measured at least, however long they take. */
  def minBlocks: Int = 1
  /** The checked, untimed ops run before the measured loop. */
  def warmUpOps: Seq[String] = block(0)
  /** Run one op of `kind` (the `i`-th op of the run); returns its timed
    * wall in ms and whether its output was correct.
    */
  def op(kind: String, i: Int): (Double, Boolean)
  /** The workload's corpus, and the store its operations read or
    * last wrote.
    */
  def corpus: CorpusFiles
  def store: String
  /** Payload bytes of `store`. */
  def storedBytes: Long
  def userBytes: Long = corpus.userBytes
  def baselineBytes: Long = corpus.baselineBytes
  /** Workload-specific layer figures for the traced run. */
  def layerPasses(m: mutable.Map[String, Double]): Unit = ()
  /** Input facts for the run log. */
  def describe: String = ""
  /** Called once before the measured loop. */
  def markLoop(): Unit = ()

  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  /** Times the body of an op of a kind: Spark jobs tagged, span opened. */
  protected val timer: Timer = new Timer(ctx)
}

final class Timer(ctx: Ctx) {
  def apply[A](kind: String)(body: => A): (Double, A) =
    SparkCounters.tag(ctx.sc, kind) {
      ctx.tracer.span(s"op.$kind") {
        val t0 = System.nanoTime()
        val a = body
        ((System.nanoTime() - t0) / 1e6, a)
      }
    }
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
