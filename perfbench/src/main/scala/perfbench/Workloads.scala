package perfbench

import graft.bench.Baseline
import graft.corpus.Corpus
import graft.encode.{MetaAgg, MetaIndex, QueryCache, StoreLayout, TableCodec}
import graft.index.{DictFilter, IndexStore, Planner}
import graft.lineage.Lineage
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable

object Cols {
  val ALL: Seq[String] = Seq("repo", "path", "commit", "lang", "content")
  val NARROW: Seq[String] = Seq("repo", "lang")
  val ID: Seq[String] = Seq("repo", "path", "commit")
}

/** A seeded corpus written as uncompressed parquet, with the figures
  * every workload needs from it (computed on first use).
  */
final class CorpusFiles(ctx: Ctx, name: String, rows: Long, dupFrac: Double) {
  val path: String = ctx.dir(s"$name/corpus.parquet")
  ctx.tracer.span("setup.corpus") {
    SparkCounters.tag(ctx.sc, "setup") {
      Corpus.generate(ctx.spark, rows, ctx.conf.cores * 2, seed = ctx.conf.seed, dupFrac = dupFrac,
        dupPool = if (dupFrac > 0) math.max(64L, rows / 200) else 0L)
        .toDF().write.option("compression", "none").parquet(path)
    }
  }

  def df: DataFrame = ctx.spark.read.parquet(path)
  val schema: StructType = df.schema

  /** Row count and content hash (oracle), and user bytes: one job. */
  lazy val (digest: Digest, userBytes: Long) = ctx.check {
    val r = df.agg(count(lit(1)), coalesce(sum(Digest.hashCol(Cols.ALL)), lit(0).cast(Digest.D)),
      sum(Cols.ALL.map(c => octet_length(col(c)).cast("long")).reduce(_ + _))).head()
    (Digest(r.getLong(0), r.getDecimal(1)), r.getLong(2))
  }

  /** Compressed bytes of the blosc2 default operating point on this corpus. */
  lazy val baselineBytes: Long = ctx.tracer.span("setup.baseline") {
    SparkCounters.tag(ctx.sc, "setup")(Baseline.measure(df).values.map(_._2).sum)
  }
}

/** The `GraftJob encode` path: one op is a resumable encode of the
  * corpus into a fresh store, 64 shards in 8 batches.
  */
final class Ingest(c: Ctx) extends Workload(c) {
  val name = "ingest"
  val primary = "ingest"
  val bulk = "ingest"
  val kinds: Seq[String] = Seq("ingest")
  val rows = 6000L
  val SHARDS = 64
  val BATCHES = 8

  var corpus: CorpusFiles = _
  private var out: String = _
  private var cBytes = 0L

  def build(rows: Long): Unit = corpus = new CorpusFiles(ctx, name, rows, 0.0)

  def block(b: Int): Seq[String] = kinds

  /** An op takes ~10 s and its median needs three of them. */
  override def minBlocks: Int = 3

  def op(kind: String, i: Int): (Double, Boolean) = {
    val dir = ctx.dir(s"$name/out-$i")
    val (ms, run) = timer(kind) {
      tracer.span("lineage.encodeResumable") {
        Lineage.encodeResumable(spark, spark.read.parquet(corpus.path), dir, Cols.ID, SHARDS, BATCHES)
      }
    }
    val ok = ctx.check {
      val ver = TableCodec.verify(Lineage.readBlocks(spark, dir)).toDF()
        .agg(count(lit(1)), sum(when(col("ok"), 0L).otherwise(1L))).head()
      val manifestRows = spark.read.parquet(Lineage.manifestPath(dir)).agg(sum("nRows")).head().getLong(0)
      run.nRows == corpus.digest.rows && run.shardsDone == SHARDS && run.shardsSkipped == 0 &&
        ver.getLong(0) > 0 && ver.getLong(1) == 0L && manifestRows == corpus.digest.rows
    }
    if (out != null) Files.delete(new java.io.File(out))
    out = dir
    cBytes = run.cBytes
    (ms, ok)
  }

  def store: String = out
  def storedBytes: Long = cBytes
}

/** Whole-store reads (the scan ops): `full` decode, the `narrow`
  * (repo, lang) projection of the same decode, and the sha256 `verify`
  * pass.
  */
final class ScanPart(ctx: Ctx, corpus: CorpusFiles, store: String) {
  private val spark = ctx.spark
  private val tracer = ctx.tracer
  private var narrowDigest: Digest = _

  def prepare(): Unit = {
    narrowDigest = ctx.check(Digest.of(corpus.df, Cols.NARROW))
  }

  private def decoded(): DataFrame =
    TableCodec.decode(tracer.span("lineage.readBlocks")(Lineage.readBlocks(spark, store)), corpus.schema)

  def op(kind: String, timed: Timer): (Double, Boolean) = kind match {
    case "full" =>
      val (ms, d) = timed(kind)(Digest.of(decoded(), Cols.ALL))
      (ms, d.same(corpus.digest))
    case "narrow" =>
      val (ms, d) = timed(kind)(Digest.of(decoded().select(Cols.NARROW.map(col): _*), Cols.NARROW))
      (ms, d.same(narrowDigest))
    case "verify" =>
      val (ms, r) = timed(kind) {
        TableCodec.verify(tracer.span("lineage.readBlocks")(Lineage.readBlocks(spark, store))).toDF()
          .agg(count(lit(1)), sum(when(col("ok"), 0L).otherwise(1L))).head()
      }
      // upserts rewrite chunks, so the expected count is read back now
      val chunkCols = ctx.check(StoreLayout.colStats(spark, store).count())
      (ms, r.getLong(0) == chunkCols && r.getLong(1) == 0L)
  }
}

/** Selective, metadata-driven queries (the probe ops) against the
  * store: Zipf-keyed `lookup`s, a rare-`lang` `isin`, a metadata `agg`,
  * and a copy-on-write `upsert` of rows with unchanged values, after
  * which the index is rebuilt.
  */
final class ProbePart(ctx: Ctx, corpus: CorpusFiles, store: String, shards: Int) {
  /** Quantile slots of a block's seven lookups, in issue order. */
  val KEY_ORDER: Seq[Int] = Seq(3, 0, 6, 2, 4, 1, 5)
  val UPSERT_ROWS = 20
  val MINMAX_COLS: Seq[String] = Seq("repo", "path", "commit", "lang")
  private val spark = ctx.spark
  private val tracer = ctx.tracer

  private var byRepo: Map[String, Digest] = _
  private var byLang: Map[String, Digest] = _
  private var minMax: Map[String, (String, String)] = _
  private var ranked: Array[String] = _
  private var cdf: Array[Double] = _
  private var quantiles: Array[Double] = _
  private var nLookups = 0
  private var rareLang: String = _
  private var upsertSets: Seq[java.util.List[Row]] = _

  // layer tallies over the measured loop
  val paths: mutable.Map[String, Long] = mutable.Map("index-gather" -> 0L, "zone-scan" -> 0L)
  var zoneCand, zoneTotal, chunksRead, rowsOut = 0L
  var upsertS: Seq[Double] = Nil
  private var qc0 = (0L, 0L)

  def prepare(): Unit = ctx.check {
    val df = corpus.df
    byRepo = Digest.byKey(df, "repo", Cols.ALL)
    byLang = Digest.byKey(df, "lang", Cols.ALL)
    val r = df.agg(min("repo"), max("repo"), min("path"), max("path"),
      min("commit"), max("commit"), min("lang"), max("lang")).head()
    minMax = MINMAX_COLS.zipWithIndex.map { case (c, i) => c -> ((r.getString(2 * i), r.getString(2 * i + 1))) }.toMap
    // lookup keys: Zipf(1) over the seed corpus's repos ranked by row
    // count, drawn at stratified quantiles (one per lookup of a block,
    // hot and cold interleaved in a fixed order), so every run probes
    // the same spread of popularity in the same order and the keys
    // repeat from block to block
    ranked = byRepo.toSeq.sortBy { case (k, d) => (-d.rows, k) }.map(_._1).toArray
    val w = ranked.indices.map(k => 1.0 / (k + 1))
    cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    quantiles = KEY_ORDER.map(j => (j + 0.5) / KEY_ORDER.size).toArray
    nLookups = 0
    val rng = new java.util.Random(ctx.conf.seed)
    rareLang = byLang.toSeq.sortBy { case (l, d) => (d.rows, l) }.head._1
    // upsert sets: UPSERT_ROWS existing rows of one lineage shard each
    val shardOf = pmod(xxhash64(Cols.ID.map(col): _*), lit(shards)).cast("int")
    val picked = rng.ints(0, shards).distinct().limit(4).toArray.toSeq
    val cand = df.withColumn("_shard", shardOf).filter(col("_shard").isin(picked: _*))
      .orderBy("path", "commit").collect()
    upsertSets = picked.map { s =>
      val rows = cand.filter(_.getInt(5) == s).take(UPSERT_ROWS).map(r => Row.fromSeq(r.toSeq.take(5)))
      java.util.Arrays.asList(rows: _*)
    }
  }

  private def nextKey(): String = {
    val u = quantiles(nLookups % quantiles.length)
    nLookups += 1
    val k = java.util.Arrays.binarySearch(cdf, u)
    ranked(math.min(ranked.length - 1, if (k >= 0) k else -k - 1))
  }

  /** Start-of-loop marks for the layer tallies. */
  def markLoop(): Unit = {
    qc0 = (QueryCache.hits.get, QueryCache.misses.get)
    paths.keys.foreach(paths(_) = 0L)
    zoneCand = 0; zoneTotal = 0; chunksRead = 0; rowsOut = 0; upsertS = Nil
  }

  def repos: Int = byRepo.size

  def cacheHitFrac: Double = {
    val h = QueryCache.hits.get - qc0._1
    val m = QueryCache.misses.get - qc0._2
    if (h + m == 0) 0.0 else h.toDouble / (h + m)
  }

  def op(kind: String, i: Int, timed: Timer): (Double, Boolean) = {
    val schema = corpus.schema
    kind match {
      case "lookup" =>
        val r = nextKey()
        val (ms, (d, choice)) = timed(kind) {
          val (df, ch) = tracer.span("planner.query")(Planner.query(spark, store, schema, "repo", r, r))
          (Digest.of(df, Cols.ALL), ch)
        }
        paths(choice.path) = paths.getOrElse(choice.path, 0L) + 1
        zoneCand += choice.zoneChunks
        zoneTotal += choice.totalChunks
        chunksRead += (if (choice.path == "index-gather") choice.idxChunks else choice.zoneChunks)
        rowsOut += d.rows
        if (tracer.enabled && tracer.on) lookupLayers(r)
        (ms, d.same(byRepo(r)))
      case "isin" =>
        val (ms, d) = timed(kind) {
          Digest.of(tracer.span("dictfilter.isinScan")(DictFilter.isinScan(spark, store, schema, "lang", Seq(rareLang))), Cols.ALL)
        }
        if (tracer.enabled && tracer.on) isinLayers()
        (ms, d.same(byLang(rareLang)))
      case "agg" =>
        val (ms, (n, mm)) = timed(kind) {
          tracer.span("metaagg") {
            (MetaAgg.count(spark, store), MetaAgg.minMaxAll(spark, store, schema, MINMAX_COLS))
          }
        }
        val ok = n == corpus.digest.rows && mm.nRows == n && MINMAX_COLS.forall { c =>
          val (lo, hi) = mm.byCol(c)
          lo.contains(minMax(c)._1) && hi.contains(minMax(c)._2)
        }
        (ms, ok)
      case "upsert" =>
        val rows = upsertSets(i % upsertSets.size)
        val (ms, (res, us)) = timed(kind) {
          val t0 = System.nanoTime()
          val res = tracer.span("lineage.upsert") {
            Lineage.upsert(spark, store, schema, spark.createDataFrame(rows, schema), Cols.ID)
          }
          val us = (System.nanoTime() - t0) / 1e9
          SparkCounters.tag(ctx.sc, "upsert.reindex") {
            tracer.span("indexstore.createFull")(IndexStore.createFull(spark, store, schema, "repo"))
          }
          (res, us)
        }
        upsertS :+= us
        val n = ctx.check(MetaAgg.count(spark, store))
        (ms, res == ((rows.size.toLong, 0L)) && n == corpus.digest.rows)
    }
  }

  /** The calls `Planner.query` makes, one span each (traced run only). */
  private def lookupLayers(r: String): Unit = SparkCounters.tag(ctx.sc, "layer") {
    val schema = corpus.schema
    tracer.span("index.zone_stats")(MetaIndex.pruningStats(spark, store, "repo", r, r))
    val hits = tracer.span("index.full_probe") {
      IndexStore.readFullRange(spark, store, schema, "repo", r, r).select("shard", "partId", "chunkId").distinct().collect()
    }
    val keys = hits.map(h => (h.getInt(0), h.getInt(1), h.getLong(2))).toSeq
    tracer.span("index.fetch") {
      StoreLayout.readBlocksByKeys(spark, store, keys, TableCodec.encodedNames(schema)).rdd
        .map(_.cols.map(_.payload.length.toLong).sum).fold(0L)(_ + _)
    }
    ()
  }

  /** `DictFilter`'s first pass: positions from the lang column alone. */
  private def isinLayers(): Unit = SparkCounters.tag(ctx.sc, "layer") {
    val target = Array(rareLang.getBytes(UTF_8))
    tracer.span("index.dict_positions") {
      StoreLayout.readBlocks(spark, store, Seq("lang")).rdd.map { b =>
        graft.codecs.ChunkCodec.dictEqualityPositions(b.cols.head.payload, target).map(_.length.toLong).getOrElse(-1L)
      }.collect()
    }
    ()
  }

  def layerPasses(m: mutable.Map[String, Double]): Unit = {
    m("index.zone_candidates") = zoneCand.toDouble
    m("index.zone_total") = zoneTotal.toDouble
    m("index.prune_frac") = if (zoneTotal == 0) 0.0 else 1.0 - zoneCand.toDouble / zoneTotal
    m("index.rows_per_chunk_read") = if (chunksRead == 0) 0.0 else rowsOut.toDouble / chunksRead
    m("index.path.index_gather") = paths("index-gather").toDouble
    m("index.path.zone_scan") = paths("zone-scan").toDouble
    m("cache.querycache_hit_frac") = cacheHitFrac
    m("lineage.upsert_s") = Stats.median(upsertS)
  }
}

/** The read side: scan ops and probe ops interleaved in one closed loop
  * over one store of a 25%-vendored-dup corpus, built the way
  * `MetaIndex.buildStore` builds query stores (8 shards, 512-row
  * chunks), then reclustered and FULL-indexed on `repo`.
  */
final class Query(c: Ctx) extends Workload(c) {
  val name = "query"
  val primary = "lookup"
  val bulk = "full"
  val kinds: Seq[String] = Seq("full", "narrow", "verify", "lookup", "isin", "agg", "upsert")
  val rows = 4000L
  val SHARDS = 8
  val CHUNK_ROWS = 512

  var corpus: CorpusFiles = _
  var store: String = _
  var scan: ScanPart = _
  var probe: ProbePart = _

  def build(rows: Long): Unit = {
    corpus = new CorpusFiles(ctx, name, rows, 0.25)
    store = ctx.dir(s"$name/store")
    tracer.span("setup.store") {
      SparkCounters.tag(ctx.sc, "setup") {
        MetaIndex.buildStore(spark, corpus.df, store, Cols.ID, nShards = SHARDS, chunkRows = CHUNK_ROWS)
        StoreLayout.recluster(spark, store, corpus.schema, "repo")
        IndexStore.createFull(spark, store, corpus.schema, "repo")
      }
    }
    scan = new ScanPart(ctx, corpus, store)
    probe = new ProbePart(ctx, corpus, store, SHARDS)
  }

  override def prepare(): Unit = { scan.prepare(); probe.prepare() }

  /** 15 ops: three `full`s (the op behind `bulk_gbps`), one each of
    * the other scan ops, seven lookups, one each of the rest.
    */
  private val BLOCK = Seq("full", "lookup", "lookup", "isin", "lookup", "full", "narrow", "agg",
    "lookup", "full", "lookup", "verify", "upsert", "lookup", "lookup")

  def block(b: Int): Seq[String] = BLOCK

  /** A block, then more of the cheap scan ops: the decode path is still
    * getting faster after one block (JIT), and `full` sets `bulk_gbps`.
    */
  override def warmUpOps: Seq[String] = BLOCK ++ Seq.fill(3)(Seq("full", "narrow", "verify", "full")).flatten

  def op(kind: String, i: Int): (Double, Boolean) = kind match {
    case "full" | "narrow" | "verify" => scan.op(kind, timer)
    case _ => probe.op(kind, i, timer)
  }

  override def markLoop(): Unit = probe.markLoop()
  override def describe: String = s"repos=${probe.repos}"
  def storedBytes: Long = ctx.check(StoreLayout.chunkStats(spark, store).agg(sum("cBytes")).head().getLong(0))
  override def layerPasses(m: mutable.Map[String, Double]): Unit = probe.layerPasses(m)
}
