package graft

import graft.corpus.Corpus
import graft.encode.{MetaAgg, MetaIndex, QueryCache, Snapshots, StoreLayout, TableCodec}
import graft.index.{IndexStore, Planner}
import graft.lineage.Lineage
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The store-read path: reads whose candidate set exceeds the pushdown
  * cap (left-semi join instead of pushed chunk keys), the Spark job
  * count of every probe entry point, the zone-hit expression and the
  * driver cache's invalidation rule.
  */
class StoreReadSpec extends SparkTestBase {

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

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

  /** Sorted ids plus an order-free hash of every column's string form. */
  private def fingerprint(d: DataFrame): (Seq[Long], Long) = {
    val ids = d.select("id").collect().map(_.getLong(0)).sorted.toSeq
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

  test("over-cap lookup equals the raw filter and fetches by left-semi join") {
    val got = MetaIndex.lookup(spark, wideDir, wide.schema, "s", "const", "const")
    assertSameRows(got, wide, "lookup(s = const)")
    val plan = MetaIndex.readCandidates(spark, wideDir, "s", "const", "const")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"over-cap fetch must semi-join:\n$plan")
    assert(!plan.contains("EqualTo(chunkId"), s"over-cap fetch must not push chunk keys:\n$plan")
  }

  test("over-cap queryAnd and bucketProbe equal the raw filter") {
    val preds = Seq(Planner.Pred("s", "const", "const"), Planner.Pred("d", "100.0", "900.0"))
    assertSameRows(Planner.queryAnd(spark, wideDir, wide.schema, preds),
      wide.filter(col("d").between(100.0, 900.0)), "queryAnd(s, d)")
    assertSameRows(IndexStore.bucketProbe(spark, wideDir, wide.schema, "s", "const"),
      wide, "bucketProbe(s = const)")
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
    val plan = MetaIndex.readCandidates(spark, wideDir, "id", "0", "2047")
      .queryExecution.executedPlan.toString
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

  test("probe entry points run the pinned number of Spark jobs") {
    val schema = corpus.schema
    val repo = corpus.select("repo").orderBy("repo").head().getString(0)
    def gather() = Planner.query(spark, corpusDir, schema, "row_id", "100", "299")
    def scan() = Planner.query(spark, corpusDir, schema, "row_id", "0", s"${Long.MaxValue}")
    assert(gather()._2.path == "index-gather" && scan()._2.path == "zone-scan")
    val counts = scala.collection.mutable.LinkedHashMap[String, Int]()
    counts("query.gather") = jobs("query-gather")(gather()._1.collect())
    counts("query.scan") = jobs("query-scan")(scan()._1.collect())
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
    // recorded before the read paths were merged; wide.bucketProbe has
    // no earlier count (its unbounded key push overflowed the stack)
    val pinned = Map("query.gather" -> 5, "query.scan" -> 5, "lookup.cold" -> 4, "lookup.warm" -> 1,
      "queryAnd" -> 6, "bucketProbe" -> 3, "minMaxAll.fallback" -> 6, "wide.lookup.warm" -> 2,
      "wide.queryAnd" -> 4, "wide.bucketProbe" -> 4, "wide.minMaxAll" -> 9)
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
    assert(n <= 8, s"deleteWhere ran $n jobs, pinned at most 8")
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
            MetaIndex.zoneHit(mn, mx, dt, Some(lo), Some(hi)))
        } ++ probes.map(lo =>
          (s"[$lo, +inf)", Replaced.intersectsLoExpr(lo), MetaIndex.zoneHit(mn, mx, dt, Some(lo), None))
        ) ++ probes.map(hi =>
          (s"(-inf, $hi]", Replaced.intersectsHiExpr(hi), MetaIndex.zoneHit(mn, mx, dt, None, Some(hi))))
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
