package graft

import graft.corpus.Corpus
import graft.encode.{MetaAgg, MetaIndex, QueryCache, Snapshots, StoreLayout, TableCodec}
import graft.index.{DictFilter, IndexStore, Planner}
import graft.lineage.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The store-read path: reads whose candidate set exceeds the pushdown
  * cap (the store scan filtered by the zone hit, or a left-semi join for
  * key lists, instead of pushed chunk keys), the Spark job count of
  * every probe entry point, the zone-hit expression and the driver
  * cache's invalidation rule.
  */
class StoreReadSpec extends SparkTestBase {

  private def writeStore(df: DataFrame, chunkRows: Int): String = {
    val dir = tmpDir("storeread")
    StoreLayout.write(TableCodec.encode(df, chunkRows = chunkRows), df.schema.fieldNames.toSeq, dir)
    dir
  }

  private def copyStore(dir: String): String = {
    val to = tmpDir("storeread-copy")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(dir)
    val fs = src.getFileSystem(conf)
    fs.listStatus(src).foreach { st =>
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs, new org.apache.hadoop.fs.Path(to), false, conf)
    }
    to
  }

  /** Sorted ids (`id`, else `row_id`) plus an order-free hash of every column's string form. */
  private def fingerprint(d: DataFrame): (Seq[Long], Long) = {
    val ids = d.select(if (d.columns.contains("id")) "id" else "row_id").collect().map(_.getLong(0)).sorted.toSeq
    val h = d.select(coalesce(sum(crc32(concat_ws("|",
      d.columns.sorted.map(c => coalesce(col(c).cast("string"), lit("<null>"))): _*))), lit(0L)))
      .head().getLong(0)
    (ids, h)
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    val (gi, gh) = fingerprint(got)
    val (wi, wh) = fingerprint(want)
    assert(gi.size == wi.size, s"$what: ${gi.size} rows, want ${wi.size}")
    assert(gi == wi, s"$what: row ids differ")
    assert(gh == wh, s"$what: row contents differ")
  }

  // ---------------------------------------------------------------- over the pushdown cap

  private val BIG = (1L << 62) + 1

  /** 2,600 rows at chunkRows = 2 → 1,300 chunks, above the 1,024-key
    * pushdown cap. `spark.range` over 4 partitions gives each partition
    * a contiguous, even-length id run, so every chunk holds ids
    * (2j, 2j+1):
    *  - `s` is one constant string → its zone names every chunk;
    *  - `d` is NaN on every even id → every chunk's zone is unbounded;
    *  - `big` is ±(2^62+1), one sign per chunk, so every chunk's running
    *    sum overflows Long (the sum fallback) while the total is 0.
    */
  private lazy val wide: DataFrame = spark.range(0, 2600, 1, 4).select(
    col("id"),
    lit("const").as("s"),
    when(col("id") % 2 === 0, lit(Double.NaN)).otherwise(col("id") * 0.5).as("d"),
    when(floor(col("id") / 2) % 2 === 0, lit(BIG)).otherwise(lit(-BIG)).as("big"),
    (col("id") % 7).as("grp")).cache()

  private lazy val wideDir: String = {
    val dir = writeStore(wide, chunkRows = 2)
    IndexStore.createBucket(spark, dir, wide.schema, "s")
    dir
  }

  test("over-cap fixture: more candidate chunks than the pushdown cap") {
    val cap = StoreLayout.MAX_PUSHDOWN_KEYS
    val (cand, total) = MetaIndex.pruningStats(spark, wideDir, "s", "const", "const")
    assert(total == 1300L && cand == 1300L, s"$cand of $total chunks")
    val store = Snapshots.storeDf(spark, wideDir)
    assert(store.filter(col("g_d.minKey") === "" || col("g_d.maxKey") === "").count() > cap)
    assert(store.filter(col("g_big.sumKey") === "").count() > cap)
  }

  /** The chunk read a zone lookup of [lo, hi] on `c` runs: the probe's
    * candidate keys through StoreLayout.readChunks, the store scan
    * filtered by the zone hit past the cap.
    */
  private def candidateRead(dir: String, c: String, lo: String, hi: String) = {
    val hit = MetaIndex.zoneHitOn(c, Some(lo), Some(hi))
    val keys = StoreLayout.probe(Snapshots.storeDf(spark, dir), Seq(hit), needCounts = false).keys.head
    StoreLayout.readChunks(spark, dir, keys, null)(_.filter(hit))
  }

  test("over-cap lookup equals the raw filter and fetches by its zone filter") {
    val got = MetaIndex.lookup(spark, wideDir, wide.schema, "s", "const", "const")
    assertSameRows(got, wide, "lookup(s = const)")
    val plan = candidateRead(wideDir, "s", "const", "const").queryExecution.executedPlan.toString
    assert(!plan.contains("LeftSemi"), s"over-cap zone fetch must not join:\n$plan")
    assert(!plan.contains("EqualTo(chunkId"), s"over-cap fetch must not push chunk keys:\n$plan")
  }

  test("over-cap queryAnd and bucketProbe equal the raw filter") {
    val preds = Seq(Planner.Pred("s", "const", "const"), Planner.Pred("d", "100.0", "900.0"))
    assertSameRows(Planner.queryAnd(spark, wideDir, wide.schema, preds),
      wide.filter(col("d").between(100.0, 900.0)), "queryAnd(s, d)")
    assertSameRows(IndexStore.bucketProbe(spark, wideDir, wide.schema, "s", "const"),
      wide, "bucketProbe(s = const)")
  }

  test("over-cap isinScan equals the raw filter through one full-width pass") {
    assertSameRows(DictFilter.isinScan(spark, wideDir, wide.schema, "s", Seq("const")), wide, "isinScan(s = const)")
  }

  test("over-cap MetaAgg fallbacks equal the raw aggregates") {
    val mm = MetaAgg.minMaxAll(spark, wideDir, wide.schema, Seq("d", "s", "big"))
    val finite = wide.filter(!isnan(col("d")))
    val exp = finite.agg(min("d"), max("d")).head()
    assert(mm.nRows == 2600L)
    assert(mm.byCol("d") == (Some(exp.getDouble(0)), Some(exp.getDouble(1))), mm.byCol("d").toString)
    assert(mm.byCol("s") == (Some("const"), Some("const")))
    assert(mm.byCol("big") == (Some(-BIG), Some(BIG)))
    val st = MetaAgg.stats(spark, wideDir, wide.schema, sumCols = Seq("big", "grp"), nonNullCols = Seq("d"))
    val sums = wide.agg(sum(col("big").cast(DecimalType(38, 0))), sum("grp")).head()
    assert(st.sums("big").map(BigInt(_)) == Some(BigInt(sums.getDecimal(0).toBigInteger)))
    assert(st.sums("grp") == Some(sums.getLong(1)))
    assert(st.nonNull("d") == 2600L)
  }

  test("minMaxAll bounds each column's fallback keys on its own: one past the cap, one with a handful") {
    // `d` is unbounded in every chunk, `f` (NaN on ids 0..9) in five
    val df = wide.select(col("id"), col("d"),
      when(col("id") < 10, lit(Double.NaN)).otherwise(col("id") * 0.25).as("f"))
    val dir = writeStore(df, chunkRows = 2)
    val store = Snapshots.storeDf(spark, dir)
    def unbounded(c: String) = store.filter(col(s"g_$c.minKey") === "" || col(s"g_$c.maxKey") === "").count()
    assert(unbounded("d") > StoreLayout.MAX_PUSHDOWN_KEYS && unbounded("f") == 5L)
    var mm: MetaAgg.MinMaxAll = null
    val n = jobs("minmax-split") { mm = MetaAgg.minMaxAll(spark, dir, df.schema, Seq("d", "f")) }
    // the aggregate, ONE probe for both columns' keys, ONE aggregate over both columns' decodes
    assert(n <= 5, s"minMaxAll(d, f) ran $n jobs, pinned at most 5")
    val raw = df.agg(min(when(!isnan(col("d")), col("d"))), max(when(!isnan(col("d")), col("d"))),
      min(when(!isnan(col("f")), col("f"))), max(when(!isnan(col("f")), col("f")))).head()
    assert(mm.nRows == 2600L)
    assert(mm.byCol("d") == (Some(raw.getDouble(0)), Some(raw.getDouble(1))), mm.byCol("d").toString)
    assert(mm.byCol("f") == (Some(raw.getDouble(2)), Some(raw.getDouble(3))), mm.byCol("f").toString)
  }

  test("over-cap deleteWhere equals the raw filter") {
    val dir = copyStore(wideDir)
    val pred = col("d") > 1000.0 // NaN sorts above every number: NaN rows match too
    val expected = wide.filter(not(coalesce(pred, lit(false))))
    val deleted = Lineage.deleteWhere(spark, dir, wide.schema, pred)
    assert(deleted == 2600L - expected.count())
    assertSameRows(TableCodec.decode(Lineage.readBlocks(spark, dir), wide.schema), expected,
      "store after deleteWhere(d > 1000)")
  }

  test("a read of exactly the cap pushes every chunk key") {
    // ids 0..2047 fill exactly 1,024 two-row chunks
    val (cand, _) = MetaIndex.pruningStats(spark, wideDir, "id", "0", "2047")
    assert(cand == StoreLayout.MAX_PUSHDOWN_KEYS)
    val got = MetaIndex.lookup(spark, wideDir, wide.schema, "id", "0", "2047")
    assertSameRows(got, wide.filter(col("id").between(0L, 2047L)), "lookup(id in [0, 2047])")
    val plan = candidateRead(wideDir, "id", "0", "2047").queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(chunkId") && !plan.contains("LeftSemi"), s"at the cap keys are pushed:\n$plan")
  }

  test("invalidate(dir) drops dir and paths under dir/, never a sibling sharing its prefix") {
    val base = tmpDir("storeread-inval")
    val paths = Seq("s", "s2", "s/_index/full/c").map(p => s"$base/$p")
    paths.foreach(p => spark.range(3).write.parquet(p))
    val before = paths.map(p => Snapshots.storeDf(spark, p))
    paths.zip(before).foreach { case (p, df) => assert(Snapshots.storeDf(spark, p) eq df, p) }
    QueryCache.invalidate(s"$base/s")
    val after = paths.map(p => Snapshots.storeDf(spark, p))
    assert(!(after(0) eq before(0)), "the invalidated dir itself must be dropped")
    assert(after(1) eq before(1), "a sibling that only shares the name prefix must survive")
    assert(!(after(2) eq before(2)), "relations under dir/ must be dropped")
  }

  // ---------------------------------------------------------------- Spark job counts

  private lazy val corpus: DataFrame = Corpus.generate(spark, 2000, 8).toDF()
    .withColumn("row_id", monotonically_increasing_id())
    .sortWithinPartitions("repo")
    .cache()

  private lazy val corpusDir: String = {
    val dir = writeStore(corpus, chunkRows = 100)
    IndexStore.createFull(spark, dir, corpus.schema, "row_id")
    IndexStore.createBucket(spark, dir, corpus.schema, "repo")
    dir
  }

  private def jobs(tag: String)(body: => Unit): Int = {
    val n = jobsIn(s"storeread-$tag")(body)
    info(s"$tag: $n jobs")
    n
  }

  /** Spark jobs per probe entry point. Each pin only ever moves down:
    * every store-read decision is one probe job, never incremental takes.
    */
  private val pinned = Map("query.gather" -> 2, "query.scan" -> 2, "plan" -> 1, "lookup.cold" -> 3, "lookup.warm" -> 1,
    "queryAnd" -> 3, "bucketProbe" -> 3, "minMaxAll.fallback" -> 5, "wide.lookup.warm" -> 1,
    "wide.queryAnd" -> 2, "wide.bucketProbe" -> 4, "wide.minMaxAll" -> 5, "wide.stats" -> 5,
    "wide.groupCountAll" -> 3, "isin" -> 2, "wide.isin" -> 3)

  test("probe entry points run the pinned number of Spark jobs") {
    val schema = corpus.schema
    val repo = corpus.select("repo").orderBy("repo").head().getString(0)
    def gather() = Planner.query(spark, corpusDir, schema, "row_id", "100", "299")
    def scan() = Planner.query(spark, corpusDir, schema, "row_id", "0", s"${Long.MaxValue}")
    assert(gather()._2.path == "index-gather" && scan()._2.path == "zone-scan")
    val counts = scala.collection.mutable.LinkedHashMap[String, Int]()
    counts("query.gather") = jobs("query-gather")(gather()._1.collect())
    counts("query.scan") = jobs("query-scan")(scan()._1.collect())
    counts("plan") = jobs("plan")(Planner.plan(spark, corpusDir, schema, "row_id", "100", "299"))
    QueryCache.clear()
    counts("lookup.cold") = jobs("lookup-cold")(
      MetaIndex.lookup(spark, corpusDir, schema, "repo", repo, repo).collect())
    counts("lookup.warm") = jobs("lookup-warm")(
      MetaIndex.lookup(spark, corpusDir, schema, "repo", repo, repo).collect())
    val preds = Seq(Planner.Pred("row_id", "350", "1049"), Planner.Pred("repo", repo, repo))
    counts("queryAnd") = jobs("queryAnd")(Planner.queryAnd(spark, corpusDir, schema, preds).collect())
    counts("bucketProbe") = jobs("bucketProbe")(
      IndexStore.bucketProbe(spark, corpusDir, schema, "repo", repo).collect())
    counts("minMaxAll.fallback") = jobs("minmax")(
      MetaAgg.minMaxAll(spark, corpusDir, schema, Seq("repo", "content")))
    counts("isin") = jobs("isin")(DictFilter.isinScan(spark, corpusDir, schema, "repo", Seq(repo)).collect())
    // over the cap
    counts("wide.lookup.warm") = {
      MetaIndex.lookup(spark, wideDir, wide.schema, "s", "const", "const").collect()
      jobs("wide-lookup")(MetaIndex.lookup(spark, wideDir, wide.schema, "s", "const", "const").collect())
    }
    counts("wide.queryAnd") = jobs("wide-queryAnd")(Planner.queryAnd(spark, wideDir, wide.schema,
      Seq(Planner.Pred("s", "const", "const"), Planner.Pred("d", "100.0", "900.0"))).collect())
    counts("wide.bucketProbe") = jobs("wide-bucketProbe")(
      IndexStore.bucketProbe(spark, wideDir, wide.schema, "s", "const").collect())

    counts("wide.minMaxAll") = jobs("wide-minmax")(
      MetaAgg.minMaxAll(spark, wideDir, wide.schema, Seq("d", "s", "big")))
    counts("wide.stats") = jobs("wide-stats")(MetaAgg.stats(spark, wideDir, wide.schema, Seq("big", "grp"), Nil))
    counts("wide.groupCountAll") = jobs("wide-groupCount")(
      MetaAgg.groupCountAll(spark, wideDir, wide.schema, Seq("s", "grp", "big")).collect())
    counts("wide.isin") = jobs("wide-isin")(DictFilter.isinScan(spark, wideDir, wide.schema, "s", Seq("const")).count())
    assert(counts.toMap == pinned)
  }

  test("deleteWhere runs no more Spark jobs than pinned") {
    val dir = tmpDir("storeread-del")
    val input = corpus.limit(600)
    Lineage.encodeResumable(spark, input, dir, idCols = Seq("repo", "path", "commit"),
      nShards = 4, nBatches = 1)
    val lang = input.select("lang").orderBy("lang").head().getString(0)
    val n = jobs("deleteWhere")(Lineage.deleteWhere(spark, dir, input.schema,
      col("lang") === lang && col("row_id") >= 0L))
    assert(n <= 6, s"deleteWhere ran $n jobs, pinned at most 6")
  }

  // ---------------------------------------------------------------- planned probes

  /** The Choice `Planner.query` must return, from the two-query form:
    * `pruningStats` plus a plain count of the FULL index's hits.
    */
  private def expectedChoice(dir: String, schema: org.apache.spark.sql.types.StructType,
                             c: String, lo: String, hi: String): Planner.Choice = {
    val (cand, total) = MetaIndex.pruningStats(spark, dir, c, lo, hi)
    if (!IndexStore.hasFull(spark, dir, c)) return Planner.Choice("zone-scan", -1L, -1L, cand, total)
    val idx = IndexStore.readFullRange(spark, dir, schema, c, lo, hi)
    val rows = idx.count()
    val chunks = idx.select("shard", "partId", "chunkId").distinct().count()
    if (rows > StoreLayout.MAX_GATHER_ROWS) Planner.Choice("zone-scan", -1L, -1L, cand, total)
    else if (chunks <= (cand * Planner.GATHER_CHUNK_ADVANTAGE).toLong + 1)
      Planner.Choice("index-gather", rows, chunks, cand, total)
    else Planner.Choice("zone-scan", rows, chunks, cand, total)
  }

  private def checkQuery(dir: String, raw: DataFrame, c: String, lo: String, hi: String,
                         path: String, exact: Column): Unit = {
    val (got, choice) = Planner.query(spark, dir, raw.schema, c, lo, hi)
    assert(choice == expectedChoice(dir, raw.schema, c, lo, hi), s"$c in [$lo, $hi]")
    assert(Planner.plan(spark, dir, raw.schema, c, lo, hi) == choice, s"plan($c in [$lo, $hi])")
    assert(choice.path == path, s"$c in [$lo, $hi]: $choice")
    assertSameRows(got, raw.filter(exact), s"query($c in [$lo, $hi])")
  }

  test("Planner.query's Choice equals pruningStats plus an index count, on both paths") {
    val schema = corpus.schema
    val repo = corpus.select("repo").orderBy("repo").head().getString(0)
    checkQuery(corpusDir, corpus, "row_id", "100", "299", "index-gather", col("row_id").between(100L, 299L))
    checkQuery(corpusDir, corpus, "row_id", "0", s"${Long.MaxValue}", "zone-scan", col("row_id") >= 0L)
    // no FULL index on repo
    checkQuery(corpusDir, corpus, "repo", repo, repo, "zone-scan", col("repo") === repo)
    // an empty range
    assert(Planner.query(spark, corpusDir, schema, "row_id", "-9", "-1")._2 ==
      expectedChoice(corpusDir, schema, "row_id", "-9", "-1"))
  }

  test("Planner.query over the caps: zone candidates past the pushdown cap") {
    val dir = copyStore(wideDir)
    IndexStore.createFull(spark, dir, wide.schema, "id")
    // 1,300 zone candidates: the scan path reads the store filtered by the zone hit
    checkQuery(dir, wide, "id", "0", "2599", "zone-scan", col("id").between(0L, 2599L))
    checkQuery(dir, wide, "id", "10", "11", "index-gather", col("id").between(10L, 11L))
  }

  test("Planner.query over the caps: FULL-index hits past MAX_GATHER_ROWS") {
    val n = StoreLayout.MAX_GATHER_ROWS + 600
    val big = spark.range(0, n, 1, 4).select(col("id"), (col("id") % 3).as("k")).cache()
    val dir = writeStore(big, chunkRows = 8192)
    IndexStore.createFull(spark, dir, big.schema, "id")
    checkQuery(dir, big, "id", "0", s"${n - 1}", "zone-scan", col("id") >= 0L)
    checkQuery(dir, big, "id", "0", s"${StoreLayout.MAX_GATHER_ROWS - 1}", "zone-scan",
      col("id") < StoreLayout.MAX_GATHER_ROWS) // within the row cap, but the index names most chunks
    checkQuery(dir, big, "id", "5000", "5099", "index-gather", col("id").between(5000L, 5099L))
    big.unpersist()
  }

  /** Runs `body` with these SQL confs set, restoring the prior values. */
  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `body`'s value, the result bytes its successful tasks shipped to
    * the driver, and how many tasks succeeded.
    */
  private def shipped[T](body: => T): (T, Long, Int) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.reason == org.apache.spark.Success && t.taskMetrics != null) {
          bytes.addAndGet(t.taskMetrics.resultSize); tasks.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val v = body
      org.apache.spark.sql.graftshim.TestListenerShim.waitUntilEmpty(spark.sparkContext)
      (v, bytes.get, tasks.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("Planner.query far past MAX_GATHER_ROWS stops its probe: bounded bytes reach the driver") {
    val cap = StoreLayout.MAX_GATHER_ROWS
    val n = 5 * cap
    val big = spark.range(0, n, 1, 4).toDF("id")
    val dir = writeStore(big, chunkRows = 8192)
    // the FULL index as 100 files, each read as its own scan partition
    withConf("spark.sql.shuffle.partitions" -> "100", "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      IndexStore.createFull(spark, dir, big.schema, "id")
    }
    withConf("spark.sql.files.maxPartitionBytes" -> "1m") {
      val (lo, hi) = ("0", s"${n - 1}")
      val parts = IndexStore.readFullRange(spark, dir, big.schema, "id", lo, hi).rdd.getNumPartitions
      assert(parts >= 100, s"$parts index scan partitions")
      val ((got, choice), bytes, tasks) = shipped(Planner.query(spark, dir, big.schema, "id", lo, hi))
      info(s"probe: $tasks tasks, $bytes result bytes over $parts index partitions")
      assert(choice == expectedChoice(dir, big.schema, "id", lo, hi) && choice.path == "zone-scan", choice.toString)
      // 20 bytes a hit: the cap's worth plus a few partitions in flight,
      // where shipping the whole range (n hits) would be 5x the cap's
      assert(bytes < 2 * 20 * (cap + 1), s"probe shipped $bytes bytes")
      assert(tasks < parts, s"probe ran all $tasks tasks")
      assertSameRows(got, big, "query(id in [0, n))")
    }
  }

  /** Chunk-key rows (shard = chunkId = id, partId = 0) over 8 partitions. */
  private def chunkRows(n: Long): DataFrame = spark.range(0, n, 1, 8)
    .select(col("id").cast("int").as("shard"), lit(0).as("partId"), col("id").as("chunkId"))

  /** FULL-index-shaped hit rows, 100 positions a chunk, over 8 partitions. */
  private def hitFrame(n: Long): DataFrame = spark.range(0, n, 1, 8)
    .select(lit(1).as("shard"), lit(0).as("partId"), (col("id") / 100).cast("long").as("chunkId"),
      (col("id") % 100).cast("int").as("pos"))

  private def hitRows(n: Long) = hitFrame(n).queryExecution.toRdd

  private def keysOf(ids: Seq[Long]) = ids.map(i => (i.toInt, 0, i))

  test("probe: keys and hits in partition order up to their caps, None past them, one job, failures rethrown") {
    val cap = StoreLayout.MAX_PUSHDOWN_KEYS.toLong
    val few = col("chunkId") < 10
    val at = StoreLayout.probe(chunkRows(cap), Seq(lit(true), few))
    assert(at.keys == Seq(Some(keysOf(0L until cap)), Some(keysOf(0L until 10L))))
    assert(at.cand == Seq(cap, 10L) && at.total == cap && at.hits.isEmpty)
    // one past the cap on one column: the other keeps its keys, the counts stay exact
    val past = StoreLayout.probe(chunkRows(cap + 1), Seq(lit(true), few))
    assert(past.keys == Seq(None, Some(keysOf(0L until 10L))))
    assert(past.cand == Seq(cap + 1, 10L) && past.total == cap + 1)
    // a NULL hit is a miss
    assert(StoreLayout.probe(chunkRows(20), Seq(when(few, lit(true)))).keys == Seq(Some(keysOf(0L until 10L))))
    // one job, also when it stops early
    assert(jobs("probe")(assert(StoreLayout.probe(chunkRows(5000), Seq(lit(true)), needCounts = false)
      .keys == Seq(None))) == 1)

    val gcap = StoreLayout.MAX_GATHER_ROWS
    def hitSeq(h: StoreLayout.Hits) = (0 until h.size).map(i => (h.shard(i), h.partId(i), h.chunkId(i), h.pos(i)))
    val hits = StoreLayout.probe(chunkRows(10), Seq(lit(true)), Some(hitRows(gcap))).hits
    assert(hits.map(hitSeq) == Some((0L until gcap).map(i => (1, 0, i / 100, (i % 100).toInt))))
    assert(StoreLayout.probe(chunkRows(10), Seq(lit(true)), Some(hitRows(gcap + 1))).hits.isEmpty)
    assert(jobs("probe-hits")(assert(StoreLayout.probe(chunkRows(10), Seq(lit(true)), Some(hitRows(gcap + 1)))
      .hits.isEmpty)) == 1)
    // no hit column and no counts: the hits alone, the metadata never scanned
    val alone = StoreLayout.probe(chunkRows(10), Nil, Some(hitRows(gcap)), needCounts = false)
    assert(alone.hits.map(_.size) == Some(gcap.toInt) && alone.total == 0L)

    // a failing task is rethrown, on either side
    val boom = raise_error(lit("boom"))
    val errs = Seq(
      intercept[Exception](StoreLayout.probe(chunkRows(10), Seq(boom.isNull))),
      intercept[Exception](StoreLayout.probe(chunkRows(10), Seq(lit(true)),
        Some(hitFrame(10).withColumn("pos", boom.cast("int")).queryExecution.toRdd), needCounts = false)))
    errs.foreach(e => assert(e.getMessage.contains("boom"), e.getMessage))
  }

  test("Planner.query files its candidate keys where MetaIndex.lookup finds them") {
    val schema = corpus.schema
    val repo = corpus.select("repo").orderBy("repo").head().getString(0)
    for ((c, lo, hi) <- Seq(("row_id", "100", "299"), ("row_id", "0", s"${Long.MaxValue}"), ("repo", repo, repo))) {
      val (_, choice) = Planner.query(spark, corpusDir, schema, c, lo, hi)
      val (h, m) = (QueryCache.hits.get, QueryCache.misses.get)
      val n = jobs(s"lookup-after-query-$c-${choice.path}")(
        MetaIndex.lookup(spark, corpusDir, schema, c, lo, hi).collect())
      assert(QueryCache.hits.get == h + 1 && QueryCache.misses.get == m, s"$c in [$lo, $hi]: not a cache hit")
      assert(n == 1, s"$c in [$lo, $hi]: $n jobs, want only the chunk read (no metadata job)")
    }
  }

  test("IndexStore.gather over the pushdown cap reads by left-semi join") {
    val keys = Snapshots.storeDf(spark, wideDir).select("shard", "partId", "chunkId").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    assert(keys.size == 1300)
    // position 0 of every two-row chunk is its even id
    val got = IndexStore.gather(spark, wideDir, wide.schema, keys.map(_ -> Array(0)).toMap)
    assertSameRows(got, wide.filter(col("id") % 2 === 0), "gather(position 0 of every chunk)")
    val plan = StoreLayout.readBlocksByKeys(spark, wideDir, keys).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"over-cap keyed read must semi-join:\n$plan")
    assert(!plan.contains("EqualTo(chunkId"), s"over-cap keyed read must not push chunk keys:\n$plan")
  }

  // ---------------------------------------------------------------- block reader

  /** Every field of two block lists, matched by chunk key. */
  private def assertSameBlocks(got: Seq[graft.encode.EncodedBlock], want: Seq[graft.encode.EncodedBlock],
                               what: String): Unit = {
    def byKey(bs: Seq[graft.encode.EncodedBlock]) = bs.map(b => (b.shard, b.partId, b.chunkId) -> b).toMap
    val (g, w) = (byKey(got), byKey(want))
    assert(got.size == want.size && g.keySet == w.keySet, s"$what: chunk keys differ")
    for ((k, wb) <- w) {
      val gb = g(k)
      assert(gb.nRows == wb.nRows && gb.cols.size == wb.cols.size, s"$what $k")
      gb.cols.zip(wb.cols).foreach { case (gc, wc) =>
        assert(gc.copy(sha = null, payload = null) == wc.copy(sha = null, payload = null), s"$what $k ${wc.name}")
        assert(gc.sha.sameElements(wc.sha) && gc.payload.sameElements(wc.payload), s"$what $k ${wc.name} bytes")
      }
    }
  }

  test("blockRdd equals Dataset.rdd field by field: hist, sha, empty zone keys, nested schema") {
    val blocks = StoreLayout.readBlocks(spark, wideDir)
    val all = blocks.rdd.collect().toSeq
    val cols = all.flatMap(_.cols)
    assert(cols.exists(_.minKey == "") && cols.exists(c => c.hist != null && c.hist.nonEmpty) &&
      cols.forall(_.sha.nonEmpty), "fixture lacks an empty zone key, a histogram or a digest")
    assertSameBlocks(StoreLayout.blockRdd(blocks).collect().toSeq, all, "store scan")
    val narrow = StoreLayout.readBlocks(spark, wideDir, Seq("grp", "s"))
    assertSameBlocks(StoreLayout.blockRdd(narrow).collect().toSeq, narrow.rdd.collect().toSeq, "two columns")
    val some = StoreLayout.readBlocksByKeys(spark, wideDir, all.take(5).map(b => (b.shard, b.partId, b.chunkId)))
    assertSameBlocks(StoreLayout.blockRdd(some).collect().toSeq, some.rdd.collect().toSeq, "pushed keys")
    val typed = SparkTestBase.zoneCandidates(blocks, "id", "0", "99")
    assertSameBlocks(StoreLayout.blockRdd(typed).collect().toSeq, typed.rdd.collect().toSeq, "typed filter")
    val encoded = TableCodec.encode(wide.limit(40), chunkRows = 8)
    assertSameBlocks(StoreLayout.blockRdd(encoded).collect().toSeq, encoded.rdd.collect().toSeq, "encode output")

    val nested = corpus.select(col("row_id"), struct(col("repo"), col("lang")).as("meta"), col("content"))
    val dir = tmpDir("storeread-nested")
    StoreLayout.write(TableCodec.encode(nested, chunkRows = 100), TableCodec.encodedNames(nested.schema), dir)
    val nb = StoreLayout.readBlocks(spark, dir)
    assert(nb.rdd.first().cols.map(_.name).contains("meta.repo"))
    assertSameBlocks(StoreLayout.blockRdd(nb).collect().toSeq, nb.rdd.collect().toSeq, "nested store")
  }

  // ---------------------------------------------------------------- zone-hit expression

  /** The three zone-hit expressions [[MetaIndex.zoneHit]] replaced,
    * verbatim — the reference it must equal row for row.
    */
  private object Replaced {
    private val numericDts = Seq(
      "bigint", "int", "smallint", "tinyint", "boolean",
      "double", "float", "date", "timestamp", "timestamp_ntz")

    def intersectsExprOn(minKey: Column, maxKey: Column, dt: Column,
                         lo: String, hi: String): Column = {
      val unbounded = minKey === "" && maxKey === ""
      val isNum = dt.isin(numericDts: _*) || dt.startsWith("decimal")
      val minD = when(minKey === "", lit(Double.NegativeInfinity)).otherwise(minKey.cast("double"))
      val maxD = when(maxKey === "", lit(Double.PositiveInfinity)).otherwise(maxKey.cast("double"))
      val numHit = !(maxD < lit(lo).cast("double") || minD > lit(hi).cast("double"))
      val strHit = (maxKey === "" || maxKey >= lit(lo)) &&
        (minKey === "" || minKey <= lit(hi))
      unbounded || when(isNum, numHit).otherwise(strHit)
    }

    def intersectsLoExpr(lo: String): Column = {
      val unbounded = col("minKey") === "" && col("maxKey") === ""
      val isNum = col("dt").isin(numericDts: _*) || col("dt").startsWith("decimal")
      val maxD = when(col("maxKey") === "", lit(Double.PositiveInfinity)).otherwise(col("maxKey").cast("double"))
      val numHit = maxD >= lit(lo).cast("double")
      val strHit = col("maxKey") === "" || col("maxKey") >= lit(lo)
      unbounded || when(isNum, numHit).otherwise(strHit)
    }

    def intersectsHiExpr(hi: String): Column = {
      val unbounded = col("minKey") === "" && col("maxKey") === ""
      val isNum = col("dt").isin(numericDts: _*) || col("dt").startsWith("decimal")
      val minD = when(col("minKey") === "", lit(Double.NegativeInfinity)).otherwise(col("minKey").cast("double"))
      val numHit = minD <= lit(hi).cast("double")
      val strHit = col("minKey") === "" || col("minKey") <= lit(hi)
      unbounded || when(isNum, numHit).otherwise(strHit)
    }
  }

  test("zoneHit equals the expressions it replaced: two-sided, lo-only and hi-only") {
    val rng = new scala.util.Random(20261018L)
    // numeric zone keys: "" (unbounded side), NaN, ±Infinity, longs
    // around 2^53 and the Long extremes, unscaled decimals, doubles
    val numKeys = Seq("", "0", "1", "-1", "42", "0.1", "-0.0", "1.0E10", "NaN", "Infinity",
      "-Infinity", "9007199254740991", "9007199254740992", "9007199254740993",
      "-9007199254740993", "9223372036854775807", "-9223372036854775808",
      "123456789012345678", "-99999999999999999", "18250", "1700000000000000")
    val strKeys = Seq("", "a", "b", "abc", "org0/proj-1", "org0/proj-12", "Z", "zz", " ",
      "é", "ü", "日本", "\uD83D\uDE00", "\uFFFD", "a\u0000b")
    val numDts = Seq("bigint", "int", "smallint", "tinyint", "boolean", "double", "float",
      "date", "timestamp", "timestamp_ntz", "decimal(10,2)", "decimal(18,0)")
    val strDts = Seq("string", "binary")

    def check(dts: Seq[String], keys: Seq[String], probes: Seq[String]): Unit = {
      def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
      val zones = spark.createDataFrame((0 until 3000).map(_ => (pick(keys), pick(keys), pick(dts))))
        .toDF("minKey", "maxKey", "dt")
      assert(zones.select("dt").distinct().count() == dts.size, "every dt name is covered")
      val (mn, mx, dt) = (col("minKey"), col("maxKey"), col("dt"))
      val pairs = rng.shuffle(for (lo <- probes; hi <- probes) yield (lo, hi)).take(80)
      val cases: Seq[(String, Column, Column)] =
        pairs.map { case (lo, hi) =>
          (s"[$lo, $hi]", Replaced.intersectsExprOn(mn, mx, dt, lo, hi),
            MetaIndex.zoneHit(mn, mx, dt, Some(lit(lo)), Some(lit(hi))))
        } ++ probes.map(lo =>
          (s"[$lo, +inf)", Replaced.intersectsLoExpr(lo), MetaIndex.zoneHit(mn, mx, dt, Some(lit(lo)), None))
        ) ++ probes.map(hi =>
          (s"(-inf, $hi]", Replaced.intersectsHiExpr(hi), MetaIndex.zoneHit(mn, mx, dt, None, Some(lit(hi)))))
      val aggs = cases.zipWithIndex.flatMap { case ((_, before, after), i) =>
        Seq(sum(when(before <=> after, 0L).otherwise(1L)).as(s"diff$i"),
          sum(when(after, 1L).otherwise(0L)).as(s"hits$i"))
      }
      val row = zones.agg(aggs.head, aggs.tail: _*).head()
      cases.zipWithIndex.foreach { case ((name, _, _), i) =>
        assert(row.getLong(2 * i) == 0L, s"zoneHit differs from the replaced expression on $name")
      }
      val hits = cases.indices.map(i => row.getLong(2 * i + 1)).sum
      assert(hits > 0 && hits < cases.size * 3000L, s"degenerate probe set: $hits hits")
    }

    check(numDts, numKeys, numKeys.filter(_.nonEmpty))
    check(strDts, strKeys, strKeys)
  }
}
