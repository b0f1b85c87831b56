package perfbench

import graft.encode.{StoreLayout, TableCodec}
import graft.lineage.Lineage
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** The traced run's per-layer report. Every name below is printed on
  * every workload; a layer the workload's operations never call reads 0.
  */
object Layers {

  val OPS: Seq[String] = Seq("ingest", "full", "narrow", "verify", "lookup", "isin", "agg", "upsert")

  val names: Seq[(String, String)] = {
    val b = mutable.ArrayBuffer.empty[(String, String)]
    b ++= Seq(
      "lineage.ingest_s" -> "s", "lineage.overhead_s" -> "s",
      "lineage.upsert_s" -> "s", "lineage.upsert_output_mb" -> "MB",
      "encode.encode_s" -> "s", "encode.gbps_local1" -> "GB/s", "encode.gbps_localN" -> "GB/s",
      "encode.scaling_eff_1to4" -> "frac",
      "encode.colbuilder_ns_per_b" -> "ns/B", "encode.selector_ns_per_b" -> "ns/B",
      "encode.selector_share" -> "frac")
    (Replay.PLANS :+ "other").foreach { p =>
      b += s"codecs.encode_ns_per_b.$p" -> "ns/B"
      b += s"codecs.decode_ns_per_b.$p" -> "ns/B"
    }
    Replay.ENTROPIES.foreach { case (e, _) =>
      b += s"codecs.entropy_compress_ns_per_b.$e" -> "ns/B"
      b += s"codecs.entropy_decompress_ns_per_b.$e" -> "ns/B"
    }
    for (c <- Cols.ALL; p <- Replay.PLANS :+ "other") b += s"codecs.chunks.$c.$p" -> "count"
    Cols.ALL.foreach(c => b += s"codecs.ratio.$c" -> "x")
    b ++= Seq(
      "store.write_s" -> "s", "store.read_s" -> "s",
      "decode.decode_s" -> "s", "decode.verify_s" -> "s",
      "decode.full_input_mb" -> "MB", "decode.narrow_input_mb" -> "MB",
      "index.zone_candidates" -> "count", "index.zone_total" -> "count", "index.prune_frac" -> "frac",
      "index.rows_per_chunk_read" -> "count", "index.full_probe_s" -> "s", "index.fetch_s" -> "s",
      "index.path.index_gather" -> "count", "index.path.zone_scan" -> "count",
      "index.dict_positions_s" -> "s", "index.metaagg_s" -> "s",
      "cache.querycache_hit_frac" -> "frac",
      "spark.jobs" -> "count", "spark.tasks" -> "count")
    OPS.foreach(o => b += s"spark.jobs_per_op.$o" -> "count")
    b ++= Seq(
      "spark.busy_frac" -> "frac", "spark.cpu_frac" -> "frac", "spark.gc_frac" -> "frac",
      "spark.shuffle_write_mb" -> "MB", "spark.input_mb" -> "MB", "spark.output_mb" -> "MB",
      "trace.overhead_frac" -> "frac", "jvm.peak_heap_mb" -> "MB")
    OPS.foreach(o => b += s"op.$o.p50_ms" -> "ms")
    b += "op.lookup.p90_ms" -> "ms"
    b.toSeq
  }

  private val MB = 1024.0 * 1024.0

  private def timeS[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }

  /** The per-layer metrics, and whether the codec replay roundtripped
    * bit for bit.
    */
  def report(ctx: Ctx, w: Workload, recs: Seq[OpRec], loopS: Double): (Seq[(String, (Double, String))], Boolean) = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    names.foreach { case (n, _) => m(n) = 0.0 }
    val sc = ctx.sc
    val tr = ctx.tracer
    def msOf(k: String, traced: Option[Boolean] = None) =
      recs.filter(r => r.kind == k && traced.forall(_ == r.traced)).map(_.ms)

    // operations
    w.kinds.foreach(k => m(s"op.$k.p50_ms") = Stats.median(msOf(k)))
    m("op.lookup.p90_ms") = Stats.quantile(msOf("lookup"), 0.9)
    val paired = w.kinds.filter(k => msOf(k, Some(true)).nonEmpty && msOf(k, Some(false)).nonEmpty)
    val tMs = paired.map(k => Stats.median(msOf(k, Some(true)))).sum
    val uMs = paired.map(k => Stats.median(msOf(k, Some(false)))).sum
    m("trace.overhead_frac") = if (uMs == 0) 0.0 else tMs / uMs - 1

    // Spark counters of the loop's operations
    val accs = w.kinds.map(k => k -> ctx.counters.get(sc, k)).toMap
    val reindex = ctx.counters.get(sc, "upsert.reindex")
    val nOps = recs.size.toDouble
    val all = accs.values.toSeq :+ reindex
    val runMs = all.map(_.runMs).sum.toDouble
    w.kinds.foreach { k =>
      val n = msOf(k).size
      val jobs = accs(k).jobs + (if (k == "upsert") reindex.jobs else 0L)
      if (n > 0) m(s"spark.jobs_per_op.$k") = jobs.toDouble / n
    }
    m("spark.jobs") = all.map(_.jobs).sum / nOps
    m("spark.tasks") = all.map(_.tasks).sum / nOps
    m("spark.busy_frac") = runMs / (recs.map(_.ms).sum * ctx.conf.cores)
    m("spark.cpu_frac") = if (runMs == 0) 0.0 else all.map(_.cpuNs).sum / 1e6 / runMs
    m("spark.gc_frac") = if (runMs == 0) 0.0 else all.map(_.gcMs).sum / runMs
    m("spark.shuffle_write_mb") = all.map(_.shuffleWriteBytes).sum / MB / nOps
    m("spark.input_mb") = all.map(_.inputBytes).sum / MB / nOps
    m("spark.output_mb") = all.map(_.outputBytes).sum / MB / nOps

    // layer passes over the workload's own corpus and store
    val corpus = w.corpus
    val store = w.store
    SparkCounters.tag(sc, "layer") {
      // encode alone, and encode + StoreLayout.write, alternated
      def write(): Double = {
        val dir = ctx.dir(s"${w.name}/layer-write")
        val (s, _) = tr.span("layer.write")(timeS(
          StoreLayout.write(TableCodec.encode(corpus.df), TableCodec.encodedNames(corpus.schema), dir)))
        Files.delete(new java.io.File(dir))
        s
      }
      def encode(): Double = tr.span("layer.encode")(timeS(TableCodec.encode(corpus.df).count())._1)
      val passes = (0 until 2).map(_ => (write(), encode()))
      val encS = Stats.median(passes.map(_._2))
      m("encode.encode_s") = encS
      m("encode.gbps_localN") = corpus.userBytes / 1e9 / encS
      m("store.write_s") = Stats.median(passes.map(_._1)) - encS
      m("store.read_s") = Stats.median((0 until 2).map(_ => tr.span("layer.read")(timeS(
        Lineage.readBlocks(ctx.spark, store).rdd.map(_.cols.map(_.payload.length.toLong).sum).fold(0L)(_ + _))._1)))
      val stats = ctx.check(StoreLayout.colStats(ctx.spark, store)
        .groupBy("col", "plan").agg(count(lit(1)), sum("nBytes"), sum("cBytes")).collect())
      stats.foreach { r =>
        val k = s"codecs.chunks.${r.getString(0)}.${Replay.planName(r.getString(1))}"
        if (m.contains(k)) m(k) += r.getLong(2)
      }
      stats.groupBy(_.getString(0)).foreach { case (c, rs) =>
        if (m.contains(s"codecs.ratio.$c")) m(s"codecs.ratio.$c") = rs.map(_.getLong(3)).sum.toDouble / rs.map(_.getLong(4)).sum
      }
    }
    val replay = tr.span("layer.replay")(Replay.run(replayChunks(ctx, corpus), corpus.schema, tr))
    replay.metrics.foreach { case (k, v) => m(k) = v }
    val replayOk = replay.mismatches == 0 && replay.roundtrips > 0

    // workload-specific layers
    m("jvm.peak_heap_mb") = ctx.heap.peakMb
    w match {
      case _: Ingest =>
        val ingestS = Stats.median(msOf("ingest")) / 1000
        m("lineage.ingest_s") = ingestS
        m("lineage.overhead_s") = ingestS - m("encode.encode_s") - m("store.write_s")
      case q: Query =>
        m("decode.decode_s") = Stats.median(msOf("full")) / 1000 - m("store.read_s")
        m("decode.verify_s") = Stats.median(msOf("verify")) / 1000
        m("decode.full_input_mb") = accs("full").inputBytes / MB / math.max(1, msOf("full").size)
        m("decode.narrow_input_mb") = accs("narrow").inputBytes / MB / math.max(1, msOf("narrow").size)
        q.layerPasses(m)
        def perCall(n: String) = tr.byName.get(n).map { case (c, tot, _) => tot / c }.getOrElse(0.0)
        m("index.full_probe_s") = perCall("index.full_probe")
        m("index.fetch_s") = perCall("index.fetch")
        m("index.dict_positions_s") = perCall("index.dict_positions")
        m("index.metaagg_s") = Stats.median(msOf("agg")) / 1000
        m("lineage.upsert_output_mb") = accs("upsert").outputBytes / MB / math.max(1, msOf("upsert").size)
    }

    // the local[1] leg of the encode pass: last, it replaces the session
    ctx.spark.stop()
    ctx.spark = Main.session(ctx.conf, 1)
    val enc1 = tr.span("layer.encode_local1")(timeS(TableCodec.encode(corpus.df).count())._1)
    m("encode.gbps_local1") = corpus.userBytes / 1e9 / enc1
    m("encode.scaling_eff_1to4") = m("encode.gbps_localN") / (ctx.conf.cores * m("encode.gbps_local1"))

    if (ctx.conf.report.nonEmpty) {
      val f = new java.io.File(ctx.conf.report)
      f.getParentFile.mkdirs()
      val meta = Seq("workload" -> Json.str(w.name), "seed" -> ctx.conf.seed.toString,
        "cores" -> ctx.conf.cores.toString, "loop_s" -> Json.num(loopS),
        "north_rule_scaling_eff" -> "0.8",
        "layers" -> m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}"))
      java.nio.file.Files.write(f.toPath, tr.reportJson(meta).getBytes("UTF-8"))
      System.err.println(s"perfbench: trace report written to ${f.getPath}")
    }
    if (!replayOk) System.err.println(s"perfbench: codec replay: ${replay.mismatches} roundtrip mismatches")
    val units = names.toMap
    (m.toSeq.map { case (k, v) => k -> ((v, units(k))) }, replayOk)
  }

  /** Seeded chunks of the corpus for the single-thread replay. */
  private def replayChunks(ctx: Ctx, corpus: CorpusFiles): Seq[Array[InternalRow]] = ctx.check {
    val pick = pmod(xxhash64((Cols.ALL.map(col) :+ lit(ctx.conf.seed)): _*), lit(16)) === 0
    val rows = corpus.df.filter(pick).orderBy("repo", "path", "commit").limit(1536)
      .queryExecution.toRdd.map(_.copy()).collect()
    rows.grouped(768).toSeq
  }
}
