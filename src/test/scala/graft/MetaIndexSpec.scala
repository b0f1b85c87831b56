package graft

import graft.corpus.Corpus
import graft.encode.{MetaIndex, Snapshots, StoreLayout, TableCodec}
import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._

/** Zone-map pruning (the reference's SUMMARY-index analog) and the
  * Catalyst Expression / Aggregator surface.
  */
class MetaIndexSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val df = {
    import org.apache.spark.sql.functions.monotonically_increasing_id
    Corpus.generate(spark, 2000, 8).toDF()
      .withColumn("row_id", monotonically_increasing_id())
      // sort within partitions so zone maps are selective on repo
      .sortWithinPartitions("repo")
  }
  private lazy val blocks = TableCodec.encode(df, chunkRows = 100).cache()
  private lazy val storeDir: String = {
    val dir = tmpDir("zonemap")
    graft.encode.StoreLayout.write(blocks, df.schema.fieldNames.toSeq, dir)
    dir
  }

  test("zone-map pruning skips most chunks for a selective predicate") {
    val target = df.select("repo").orderBy("repo").head().getString(0)
    val (cand, total) = MetaIndex.pruningStats(spark, storeDir, "repo", target, target)
    assert(total >= 20, s"want many chunks, got $total")
    assert(cand < total / 2, s"pruning too weak: $cand of $total chunks")

    // result equals full-scan filter
    val viaIndex = MetaIndex.lookup(spark, storeDir, df.schema, "repo", target, target)
    val viaScan = df.filter(col("repo") === target)
    assert(viaIndex.count() == viaScan.count())
    val h = (d: org.apache.spark.sql.DataFrame) =>
      d.select(sum(crc32(concat_ws("|", col("repo"), col("path"), col("commit"))))).head().getLong(0)
    assert(h(viaIndex) == h(viaScan))
  }

  test("prune pass is metadata-only: payload/sha never in the scan schema") {
    val target = df.select("repo").orderBy("repo").head().getString(0)
    assertZonePassMetadataOnly(storeDir, "repo", target, target)
    // and the candidate fetch pushes the probe's chunk keys into the scan
    val keys = StoreLayout.probe(Snapshots.storeDf(spark, storeDir),
      Seq(MetaIndex.zoneHitOn("repo", Some(target), Some(target))), needCounts = false).keys.head
    assert(keys.exists(_.nonEmpty), s"a selective range must have pushable keys: $keys")
    val cand = StoreLayout.readChunks(spark, storeDir, keys, null)(
      _.filter(MetaIndex.zoneHitOn("repo", Some(target), Some(target))))
    val fetchPlan = cand.queryExecution.executedPlan.toString
    assert(fetchPlan.contains("PushedFilters: [") && fetchPlan.contains("chunkId"),
      s"candidate fetch must push chunk keys:\n$fetchPlan")
  }

  test("zone-map range lookup on numeric and string columns is exact") {
    val viaIndex = MetaIndex.lookup(spark, storeDir, df.schema, "lang", "c", "c")
    val expected = df.filter(col("lang") === "c").count()
    assert(viaIndex.count() == expected)
    // numeric range on the row_id column (long zone keys)
    val viaNum = MetaIndex.lookup(spark, storeDir, df.schema, "row_id", "100", "199")
    val expNum = df.filter(col("row_id").between(100, 199)).count()
    assert(viaNum.count() == expNum)
    // the in-memory reference on the typed blocks prunes identically
    val target = df.select("repo").orderBy("repo").head().getString(0)
    val memCand = SparkTestBase.zoneCandidates(blocks, "repo", target, target).count()
    val (storeCand, _) = MetaIndex.pruningStats(spark, storeDir, "repo", target, target)
    assert(memCand == storeCand)
  }

  test("graft_block_rows / graft_block_raw_len read headers without decoding") {
    GraftFunctions.register(spark)
    val cols = blocks.flatMap(b => b.cols.map(c => (c.name, b.nRows, c.nBytes, c.payload)))
      .toDF("name", "nRows", "nBytes", "payload")
    val checked = cols.select(
      col("nRows"),
      GraftFunctions.block_rows(col("payload")).as("hdr_rows"),
      col("name"), col("nBytes"),
      GraftFunctions.block_raw_len(col("payload")).as("hdr_raw"))
    assert(checked.filter(col("nRows") =!= col("hdr_rows")).count() == 0)
    // SQL registration works too
    cols.createOrReplaceTempView("enc_cols")
    val viaSql = spark.sql("SELECT count(*) FROM enc_cols WHERE graft_block_rows(payload) = nRows")
      .head().getLong(0)
    assert(viaSql == cols.count())
  }

  test("SparkSessionExtensions injection registers graft functions for SQL") {
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(exts)
    org.apache.spark.sql.graftshim.ExtensionsShim.registerFunctions(
      exts, spark.sessionState.functionRegistry)
    val cols = blocks.flatMap(b => b.cols.map(c => (c.name, b.nRows, c.payload)))
      .toDF("name", "nRows", "payload")
    cols.createOrReplaceTempView("ext_cols")
    val ok = spark.sql("SELECT count(*) FROM ext_cols WHERE graft_block_rows(payload) = nRows")
      .head().getLong(0)
    assert(ok == cols.count())
    // injected with documentation
    val desc = spark.sql("DESCRIBE FUNCTION graft_block_raw_len").collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("graft_block_raw_len"), desc)
  }

  test("RatioAgg UDAF computes global compression ratio") {
    val pairs = blocks.flatMap(_.cols.map(c => (c.nBytes, c.cBytes)))
    val ratio = pairs.select(GraftFunctions.RatioAgg.toColumn).head()
    val (n, c) = pairs.collect().foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    assert(math.abs(ratio - n.toDouble / c) < 1e-9)
    assert(ratio > 1.5, s"corpus should compress, got $ratio")
  }

  test("repeated probes hit the coordinate cache; a mutation invalidates it") {
    import graft.encode.QueryCache
    import graft.lineage.Lineage
    // fresh store so mutation does not disturb the shared fixture
    val d2 = df.limit(600)
    val dir = tmpDir("qcache")
    Lineage.encodeResumable(spark, d2, dir, idCols = Seq("repo", "path", "commit"),
      nShards = 4, nBatches = 1)
    val target = d2.select("lang").orderBy("lang").head().getString(0)
    QueryCache.clear()
    val before = (QueryCache.hits.get(), QueryCache.misses.get())
    val n1 = MetaIndex.lookup(spark, dir, d2.schema, "lang", target, target).count()
    val n2 = MetaIndex.lookup(spark, dir, d2.schema, "lang", target, target).count()
    assert(n1 == n2 && n1 > 0)
    assert(QueryCache.misses.get() == before._2 + 1, "first probe should miss once")
    assert(QueryCache.hits.get() >= before._1 + 1, "second probe should hit the cache")
    // CoW delete invalidates -> no rows
    val deleted = Lineage.deleteWhere(spark, dir, d2.schema, col("lang") === target)
    assert(deleted == n1)
    val after = MetaIndex.lookup(spark, dir, d2.schema, "lang", target, target).count()
    assert(after == 0, s"cache served stale coordinates: $after rows after delete")
    // ADDITIVE mutation is the discriminating case: a stale cache would
    // keep serving the PRE-upsert coordinates and miss the new rows
    // entirely (the delete-only check passes even with broken
    // invalidation, since stale chunks also lack the value)
    import org.apache.spark.sql.functions.lit
    val reAdd = d2.limit(3).withColumn("lang", lit(target))
    Lineage.upsert(spark, dir, d2.schema, reAdd, Seq("repo", "path", "commit"))
    val found = MetaIndex.lookup(spark, dir, d2.schema, "lang", target, target).count()
    assert(found == 3, s"stale cache hid upserted rows: found $found of 3")
  }

  test("MetaAgg: count/min/max from zone metadata; unbounded chunks fall back to one-column decode") {
    import graft.encode.MetaAgg

    assert(MetaAgg.count(spark, storeDir) == 2000L)

    // short strings + longs: exact zone bounds, served metadata-only
    val expR = df.agg(min("repo"), max("repo")).head()
    val (mnR, mxR) = MetaAgg.minMax(spark, storeDir, df.schema, "repo")
    assert(mnR.contains(expR.getString(0)) && mxR.contains(expR.getString(1)))
    val expI = df.agg(min("row_id"), max("row_id")).head()
    val (mnI, mxI) = MetaAgg.minMax(spark, storeDir, df.schema, "row_id")
    assert(mnI.contains(expI.getLong(0)) && mxI.contains(expI.getLong(1)))

    // content values exceed ZONE_KEY_MAX → zones dropped ("" bounds) →
    // the one-column decode fallback must recover the exact extremes
    val expC = df.agg(min("content"), max("content")).head()
    val (mnC, mxC) = MetaAgg.minMax(spark, storeDir, df.schema, "content")
    assert(mnC.contains(expC.getString(0)) && mxC.contains(expC.getString(1)))

    // doubles with ONE NaN-poisoned chunk: that chunk's zone is
    // unbounded, and the true min hides inside it — the fallback must
    // find it while NaN itself is excluded like NULL (documented)
    import spark.implicits._
    val dd = (0 until 300).map { i =>
      val v = if (i == 250) Double.NaN else if (i == 260) -1e9 else math.sin(i.toDouble) * 100
      (i.toLong, v)
    }.toDF("id", "v").coalesce(1)
    val dir2 = tmpDir("metaagg")
    StoreLayout.write(TableCodec.encode(dd, chunkRows = 100), dd.schema.fieldNames.toSeq, dir2)
    val (mnV, mxV) = MetaAgg.minMax(spark, dir2, dd.schema, "v")
    assert(mnV.contains(-1e9), s"fallback missed the NaN-chunk min: $mnV")
    val expMx = dd.filter(!isnan(col("v"))).agg(max("v")).head().getDouble(0)
    assert(mxV.contains(expMx), s"got $mxV want $expMx")

    // the zone pass over a long column never maps payload pages either
    assertZonePassMetadataOnly(storeDir, "row_id", "100", "199")
  }

  test("MetaAgg batched: multi-column min/max + sums run as ONE metadata pass") {
    import graft.encode.MetaAgg

    // bounded columns only (repo/row_id/lang have exact zone keys) → no
    // decode fallback → the whole batched min/max is a single job
    var mm: MetaAgg.MinMaxAll = null
    val n1 = jobsIn("metaagg-minmax-batch") {
      mm = MetaAgg.minMaxAll(spark, storeDir, df.schema, Seq("repo", "row_id", "lang"))
    }
    // one aggregate over one scan; AQE materializes the agg's shuffle
    // stage as its own job, so "one pass" = at most 2 jobs (the
    // unbatched per-column loop measured 22)
    assert(n1 <= 2, s"batched minMaxAll ran $n1 jobs, want <= 2")
    assert(mm.nRows == 2000L)
    val expR = df.agg(min("repo"), max("repo")).head()
    assert(mm.byCol("repo")._1.contains(expR.getString(0)) &&
      mm.byCol("repo")._2.contains(expR.getString(1)))
    val expI = df.agg(min("row_id"), max("row_id")).head()
    assert(mm.byCol("row_id")._1.contains(expI.getLong(0)) &&
      mm.byCol("row_id")._2.contains(expI.getLong(1)))

    // batched sums + non-null counts: also one job (no overflow here)
    var st: MetaAgg.StoreStats = null
    val n2 = jobsIn("metaagg-stats-batch") {
      st = MetaAgg.stats(spark, storeDir, df.schema,
        sumCols = Seq("row_id"), nonNullCols = Seq("repo", "content"))
    }
    assert(n2 <= 2, s"batched stats ran $n2 jobs, want <= 2")
    assert(st.nRows == 2000L)
    assert(st.sums("row_id").contains(df.agg(sum("row_id")).head().getLong(0)))
    assert(st.nonNull("repo") == 2000L && st.nonNull("content") == 2000L)
  }

  test("MetaAgg: exact sum / non-null count / histogram group-by, with decode fallbacks") {
    import graft.encode.MetaAgg
    import org.apache.spark.sql.types.DecimalType

    // corpus store: no nulls, no overflow → sums/counts are pure metadata
    val expSum = df.agg(sum("row_id")).head().getLong(0)
    assert(MetaAgg.stats(spark, storeDir, df.schema, Seq("row_id"), Nil).sums("row_id").contains(expSum))
    assert(MetaAgg.stats(spark, storeDir, null, Nil, Seq("repo")).nonNull("repo") == 2000L)

    // group-by on a low-cardinality column: histograms alive in every
    // chunk → equals the decoded group-by exactly
    val gotLang = MetaAgg.groupCount(spark, storeDir, df.schema, "lang").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    val expLang = df.groupBy("lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(gotLang == expLang)

    // the group-by's summary pass maps summary leaves only — payload/sha never
    val structs = scanStructLeaves(MetaAgg.groupCount(spark, storeDir, df.schema, "lang"))
    assert(structs.nonEmpty &&
      structs.values.forall(_.subsetOf(Set("name", "dt", "minKey", "maxKey", "nNulls", "sumKey", "hist"))),
      s"summary pass must not touch payload/sha: $structs")

    // nulls + a chunk whose RUNNING sum overflows Long (sumKey dead →
    // one-column decode fallback) + >HIST_MAX distinct values per chunk
    // (histogram dead → group-by fallback), all in one store. The
    // overflow chunk's values cancel, so the exact TOTAL stays in range.
    val big = 1L << 62
    val vals = (0 until 300).map { i =>
      val v: java.lang.Long =
        if (i % 7 == 0) null
        else if (i == 100 || i == 101) java.lang.Long.valueOf(big) // running sum overflows here
        else if (i == 102 || i == 103) java.lang.Long.valueOf(-big)
        else java.lang.Long.valueOf(i.toLong)
      (i.toLong, v)
    }
    val dd = vals.toDF("id", "v").coalesce(1)
    val dir2 = tmpDir("metaagg-sum")
    StoreLayout.write(TableCodec.encode(dd, chunkRows = 100), dd.schema.fieldNames.toSeq, dir2)

    // the middle chunk really is sum-dead (else this test proves nothing)
    val deadChunks = Snapshots.storeDf(spark, dir2)
      .filter(col("g_v.sumKey") === "" && col("g_v.nNulls") < col("nRows")).count()
    assert(deadChunks == 1L, s"want exactly the overflow chunk sum-dead, got $deadChunks")

    val expExact = dd.agg(sum(col("v").cast(DecimalType(38, 0)))).head()
      .getDecimal(0).toBigIntegerExact.longValueExact()
    assert(MetaAgg.stats(spark, dir2, dd.schema, Seq("v"), Nil).sums("v").contains(expExact))
    val expNN = dd.filter(col("v").isNotNull).count()
    assert(MetaAgg.stats(spark, dir2, null, Nil, Seq("v")).nonNull("v") == expNN)

    // group-by with dead histograms + a null group: equals decode
    val gotV = MetaAgg.groupCount(spark, dir2, dd.schema, "v").collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1))).toMap
    val expV = dd.groupBy(col("v").cast("string").as("value")).count().collect()
      .map(r => (if (r.isNullAt(0)) null else r.getString(0), r.getLong(1))).toMap
    assert(gotV == expV)

    // all-null column → sum is SQL NULL, never 0
    val ddNull = (0 until 50).map(i => (i.toLong, null: java.lang.Long)).toDF("id", "v").coalesce(1)
    val dir3 = tmpDir("metaagg-null")
    StoreLayout.write(TableCodec.encode(ddNull, chunkRows = 20), ddNull.schema.fieldNames.toSeq, dir3)
    assert(MetaAgg.stats(spark, dir3, ddNull.schema, Seq("v"), Nil).sums("v").isEmpty)
    assert(MetaAgg.stats(spark, dir3, null, Nil, Seq("v")).nonNull("v") == 0L)

    // float sums are order-dependent — pushdown must refuse, not lie
    val ddD = Seq((1L, 0.5), (2L, 1.5)).toDF("id", "v").coalesce(1)
    val dir4 = tmpDir("metaagg-dbl")
    StoreLayout.write(TableCodec.encode(ddD, chunkRows = 10), ddD.schema.fieldNames.toSeq, dir4)
    intercept[IllegalArgumentException] { MetaAgg.stats(spark, dir4, ddD.schema, Seq("v"), Nil) }
  }
}

