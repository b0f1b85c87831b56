package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark entry point (see perfbench/README.md):
  *
  *   perfbench.Main --workload ingest|query --seed N --seconds S
  *                  --trace 0|1 --cores N --work DIR --report FILE
  *
  * Prints one JSON result object as the last line of standard output.
  */
object Main {

  /** Set-ups per timed run; `setup_s` is their median. */
  val SETUP_REPS = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val conf = Conf(
      workload = a("workload"), seed = a("seed").toLong, seconds = a("seconds").toDouble,
      trace = a.getOrElse("trace", "0") == "1", cores = a("cores").toInt, work = a("work"),
      report = a.getOrElse("report", ""))
    require(Set("ingest", "query").contains(conf.workload), s"unknown workload ${conf.workload}")
    val tStart = System.nanoTime()
    val heap = new HeapWatch
    val ctx = new Ctx(session(conf, conf.cores), conf, new Tracer(conf.trace), new SparkCounters, heap)
    ctx.sc.addSparkListener(ctx.counters)
    System.err.println(f"perfbench: session up in ${(System.nanoTime() - tStart) / 1e9}%.1f s")
    val out = try run(ctx) finally {
      ctx.spark.stop()
      heap.close()
    }
    println(out)
  }

  def session(conf: Conf, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new java.io.File(conf.work, "warehouse").getAbsolutePath)
      .config("spark.local.dir", new java.io.File(conf.work, "spark-local").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def workload(ctx: Ctx): Workload = ctx.conf.workload match {
    case "ingest" => new Ingest(ctx)
    case "query" => new Query(ctx)
  }

  def run(ctx: Ctx): String = {
    val conf = ctx.conf
    val w = workload(ctx)
    var attempted = 0L
    var failed = 0L
    val recs = mutable.ArrayBuffer.empty[OpRec]
    var opId = 0

    def one(kind: String, measured: Boolean): Unit = {
      ctx.tracer.op = opId
      attempted += 1
      val (ms, ok) =
        try w.op(kind, opId)
        catch {
          case e: Throwable =>
            System.err.println(s"perfbench: op $kind #$opId failed: $e")
            e.printStackTrace()
            (0.0, false)
        }
      if (!ok) { failed += 1; System.err.println(s"perfbench: op $kind #$opId produced a wrong result") }
      if (measured) recs += OpRec(kind, ms, ctx.tracer.enabled && ctx.tracer.on)
      opId += 1
      ctx.tracer.op = -1
    }
    def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

    // set-up: rebuilt from scratch each time; the last one is used
    val reps = if (conf.trace) 1 else SETUP_REPS
    val setupS = (0 until reps).map { _ =>
      val t = System.nanoTime()
      ctx.tracer.span("setup")(w.build(w.rows))
      elapsed(t)
    }
    ctx.tracer.span("prepare") {
      w.prepare()
      w.corpus.digest
      w.corpus.baselineBytes
    }
    // warm-up: checked but not timed
    val t1 = System.nanoTime()
    ctx.tracer.span("warmup.ops")(w.warmUpOps.foreach(k => one(k, measured = false)))
    val warmOpsS = elapsed(t1)

    ctx.counters.reset(ctx.sc)
    ctx.heap.reset()
    w.markLoop()
    val t2 = System.nanoTime()
    val deadline = t2 + (conf.seconds * 1e9).toLong
    var b = 0
    // whole blocks only; the traced run needs a traced and an untraced one
    while (b < math.max(w.minBlocks, if (conf.trace) 2 else 1) || System.nanoTime() < deadline) {
      ctx.tracer.on = b % 2 == 0
      w.block(b).foreach(k => one(k, measured = true))
      b += 1
    }
    val loopS = elapsed(t2)
    ctx.tracer.on = ctx.tracer.enabled
    System.gc()
    ctx.heap.sample()
    def med(k: String) = Stats.median(recs.filter(_.kind == k).map(_.ms).toSeq)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!conf.trace) {
      metrics("setup_s") = (Stats.median(setupS), "s")
      metrics("bulk_gbps") = (w.userBytes / 1e9 / (med(w.bulk) / 1000), "GB/s")
      metrics("op_p50_ms") = (med(w.primary), "ms")
      metrics("block_s") = (w.block(0).map(med).sum / 1000, "s")
      metrics("ratio") = (w.userBytes.toDouble / w.storedBytes, "x")
      metrics("size_vs_blosc2") = (w.storedBytes.toDouble / w.baselineBytes, "x")
      metrics("ok_frac") = ((attempted - failed).toDouble / attempted, "frac")
    } else {
      val (layers, ok) = Layers.report(ctx, w, recs.toSeq, loopS)
      layers.foreach { case (k, (v, u)) => metrics(k) = (v, u) }
      attempted += 1
      if (!ok) failed += 1
    }
    System.err.println(f"perfbench: ${conf.workload} seed=${conf.seed} blocks=$b ops=${recs.size} loop=$loopS%.1fs " +
      f"warm-up=$warmOpsS%.1fs setups=${setupS.map(s => f"$s%.2f").mkString(",")} " +
      f"peak_heap=${ctx.heap.peakMb}%.0fMB gcs=${ctx.heap.gcs} user_gb=${w.userBytes / 1e9}%.4f " +
      f"stored_gb=${w.storedBytes / 1e9}%.4f ${w.describe}")
    w.kinds.foreach { k =>
      System.err.println(s"perfbench:   $k ms: " + recs.filter(_.kind == k).map(r => f"${r.ms}%.0f").mkString(" "))
    }
    val body = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }
}
