package graft

import graft.corpus.Corpus
import graft.encode.TableCodec
import graft.index.{IndexStore, Planner}
import org.apache.spark.sql.functions._

/** Persistent FULL/BUCKET indexes + the cost-model planner (the
  * reference's create_index / plan_query subsystem, indexing.py:4019 /
  * :6956, gather-vs-scan constants ctable_indexing.py:238-242).
  */
class IndexSpec extends SparkTestBase {

  private lazy val df = {
    import org.apache.spark.sql.functions.monotonically_increasing_id
    // single partition → monotonically_increasing_id is the CONTIGUOUS
    // sequence 0..1999 (across partitions it embeds partition bits),
    // so range predicates line up with the chunk grid
    Corpus.generate(spark, 2000, 8).toDF().coalesce(1)
      .withColumn("row_id", monotonically_increasing_id())
      // a second row-order-correlated column (offset from row_id's chunk
      // grid) so the multi-column test has two predicates whose zone
      // candidate sets genuinely differ
      .withColumn("grp", floor(col("row_id") / 700).cast("long"))
  }

  private lazy val storeDir: String = {
    val dir = tmpDir("index")
    graft.encode.StoreLayout.write(
      TableCodec.encode(df, chunkRows = 100), df.schema.fieldNames.toSeq, dir)
    IndexStore.createFull(spark, dir, df.schema, "row_id")
    IndexStore.createFull(spark, dir, df.schema, "repo")
    IndexStore.createBucket(spark, dir, df.schema, "commit")
    dir
  }

  test("FULL index range gather equals the full-scan filter") {
    val (viaIndex, choice) = Planner.query(spark, storeDir, df.schema, "row_id", "100", "299")
    assert(choice.path == "index-gather", choice.toString)
    val viaScan = df.filter(col("row_id").between(100, 299))
    assert(viaIndex.count() == viaScan.count())
    val h = (d: org.apache.spark.sql.DataFrame) =>
      d.select(sum(crc32(concat_ws("|", col("row_id"), col("repo"), col("path"), col("content"))))).head().getLong(0)
    assert(h(viaIndex) == h(viaScan))
  }

  test("keyset cursor pages the index order without re-reading the prefix") {
    // 3 pages of 150 == the first 450 rows of the sort order; pages are
    // disjoint and the cursor resumes exactly after the previous page
    var cursor: Option[IndexStore.SortCursor] = None
    val pages = (0 until 3).map { _ =>
      val (page, next) = IndexStore.sortedPage(spark, storeDir, df.schema, "row_id", cursor, 150)
      cursor = next
      page.select("row_id").collect().map(_.getLong(0)).toSet
    }
    assert(pages.forall(_.size == 150))
    assert(pages(0).intersect(pages(1)).isEmpty && pages(1).intersect(pages(2)).isEmpty)
    assert(pages.reduce(_ ++ _) == (0L until 450L).toSet,
      "3 cursor pages must equal the first 450 rows of the sort order")
    // a STRING-keyed index pages too, with correct tie handling (many
    // rows share a repo key — the physical tuple breaks ties)
    var sc: Option[IndexStore.SortCursor] = None
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    var n = 0
    while ({ val (p, nx) = IndexStore.sortedPage(spark, storeDir, df.schema, "repo", sc, 700)
             seen ++= p.select("repo").collect().map(_.getString(0)); sc = nx; n += 1
             nx.isDefined && n < 10 }) ()
    assert(seen.size == 2000, s"string cursor must visit every row exactly once, got ${seen.size}")
    assert(seen.sorted == df.select("repo").collect().map(_.getString(0)).toSeq.sorted)
    // exhaustion: a cursor past the end yields an empty page and None
    val (tail, end) = IndexStore.sortedPage(spark, storeDir, df.schema, "row_id",
      Some(IndexStore.SortCursor("1999", Int.MaxValue, Int.MaxValue, Long.MaxValue, Int.MaxValue)), 10)
    assert(tail.count() == 0 && end.isEmpty)
  }

  test("rank-materialized index serves deep sorted windows with flat pushed IO") {
    // correctness: deep ascending window (offset 30x the page size)
    // equals the sort+offset+limit answer; row_id is the contiguous
    // sequence so the expectation is exact
    val win = IndexStore.sortedSlice(spark, storeDir, df.schema, "row_id", 1500L, 50)
    assert(win.select("row_id").collect().map(_.getLong(0)).sorted.toSeq ==
      (1500L until 1550L).toSeq)
    // boundary: window past the end is empty; window straddling the end truncates
    assert(IndexStore.sortedSlice(spark, storeDir, df.schema, "row_id", 2000L, 50).count() == 0)
    assert(IndexStore.sortedSlice(spark, storeDir, df.schema, "row_id", 1990L, 50).count() == 10)

    // the index carries the rank column and a deep window reads only
    // the rank-overlapping index files (pushed row-group/file stats),
    // not the whole index — this is what keeps per-page IO flat at any
    // depth. Shallow and deep pages must cost the same.
    val idxPath = IndexStore.fullPath(storeDir, "row_id")
    val idx = spark.read.parquet(idxPath)
    assert(idx.columns.contains("rank"))
    val nFiles = idx.select(org.apache.spark.sql.functions.input_file_name()).distinct().count()
    assert(nFiles >= 3, s"fixture too small to measure file pruning: $nFiles files")
    // baseline reads the SAME columns (rank + pos) as the windows — a
    // pos-only baseline would compare different column pages
    val full = bytesRead(idx.filter(col("rank") >= 0L).select("pos").collect())
    val shallow = bytesRead(idx.filter(col("rank") >= 0L && col("rank") < 50L).select("pos").collect())
    val deep = bytesRead(idx.filter(col("rank") >= 1500L && col("rank") < 1550L).select("pos").collect())
    // toy-scale caveat: each (file × leaf) costs a ~5 KB fixed footer/
    // seek overhead, so tiny index files put a floor under every
    // measurement — the pruning signal is deep reading strictly less
    // than a full pass and matching the shallow page, not a huge ratio
    assert(deep < (full * 3) / 4, s"deep window read most of the index: deep=$deep full=$full")
    assert(deep <= shallow * 2 && shallow <= deep * 2,
      s"per-page index IO not flat: shallow=$shallow deep=$deep")
  }

  /** A repo from the middle of the sort order: every chunk's zone
    * spans it, while its few rows sit in a few chunks, so a probe of it
    * takes the index path.
    */
  private lazy val midRepo: String = {
    val repos = df.select("repo").distinct().orderBy("repo").collect().map(_.getString(0))
    repos(repos.length / 2)
  }

  test("FULL index on a string column serves range probes") {
    val target = midRepo
    val (viaIndex, choice) = Planner.query(spark, storeDir, df.schema, "repo", target, target)
    assert(choice.path == "index-gather", choice.toString)
    assert(viaIndex.count() == df.filter(col("repo") === target).count())
  }

  test("planner picks index-gather for selective ranges and touches few chunks") {
    val c = Planner.plan(spark, storeDir, df.schema, "row_id", "100", "299")
    assert(c.path == "index-gather", c.toString)
    assert(c.totalChunks >= 20, c.toString)
    // the scan count drops: the gather touches only the chunks the index names
    assert(c.idxChunks < c.totalChunks / 2, s"gather should touch few chunks: $c")
    val (res, choice) = Planner.query(spark, storeDir, df.schema, "row_id", "100", "299")
    assert(choice.path == "index-gather")
    assert(res.count() == df.filter(col("row_id").between(100, 299)).count())
  }

  test("planner falls back to zone scan for non-selective ranges and missing indexes") {
    // whole-domain range: index names every chunk → scan
    val c = Planner.plan(spark, storeDir, df.schema, "row_id", "0", s"${Long.MaxValue}")
    assert(c.path == "zone-scan", c.toString)
    // no index on lang → zone scan, still correct
    val (res, choice) = Planner.query(spark, storeDir, df.schema, "lang", "c", "c")
    assert(choice.path == "zone-scan")
    assert(res.count() == df.filter(col("lang") === "c").count())
  }

  test("index-ordered top-k equals sort+limit on the raw table") {
    val viaIndex = IndexStore.sortedTopK(spark, storeDir, df.schema, "row_id", 25, ascending = false)
      .select("row_id").collect().map(_.getLong(0)).sorted
    val viaSort = df.orderBy(desc("row_id")).limit(25)
      .select("row_id").collect().map(_.getLong(0)).sorted
    assert(viaIndex.toSeq == viaSort.toSeq)
  }

  test("positional slice gathers exactly the requested rows in store order") {
    // store order == encode input order; row_id is monotonic per input
    // partition, so validate against a full-decode slice of the store
    val all = graft.encode.TableCodec.decode(
      graft.encode.StoreLayout.readBlocksByKeys(
        spark, storeDir,
        spark.read.parquet(storeDir).select("shard", "partId", "chunkId")
          .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq),
      df.schema)
    val sliced = IndexStore.slice(spark, storeDir, df.schema, 333L, 77L)
    assert(sliced.count() == 77)
    assert(IndexStore.slice(spark, storeDir, df.schema, 0L, 10L).count() == 10)
    // past-the-end slice truncates
    val total = all.count()
    assert(IndexStore.slice(spark, storeDir, df.schema, total - 5, 100L).count() == 5)
    // the gathered rows are real store rows
    val ids = sliced.select("row_id").collect().map(_.getLong(0)).toSet
    val allIds = all.select("row_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(allIds))
  }

  test("multi-column AND intersects zones: fewer chunks than either single column") {
    // row_id 350-1049 → chunks 3-10; grp=1 ⇔ row_id 700-1399 → chunks
    // 7-13; the intersection (7-10) is strictly smaller than both
    val preds = Seq(Planner.Pred("row_id", "350", "1049"), Planner.Pred("grp", "1", "1"))
    val Seq(p1, p2) = preds.map(p => graft.encode.MetaIndex.zoneHitOn(p.colName, Some(p.lo), Some(p.hi)))
    val andChunks +: singles = graft.encode.StoreLayout.probe(
      graft.encode.Snapshots.storeDf(spark, storeDir), Seq(p1 && p2, p1, p2)).cand
    assert(singles.size == 2 && singles.forall(andChunks < _), s"and=$andChunks singles=$singles")
    val res = Planner.queryAnd(spark, storeDir, df.schema, preds)
    val expect = df.filter(col("row_id").between(350, 1049) && col("grp") === 1)
    assert(expect.count() > 0)
    assert(res.count() == expect.count())
    val h = (d: org.apache.spark.sql.DataFrame) =>
      d.select(sum(crc32(concat_ws("|", col("row_id"), col("repo"), col("path"), col("grp"))))).head().getLong(0)
    assert(h(res) == h(expect))
  }

  test("store probes work on tables with struct columns (flat-leaf addressing)") {
    import org.apache.spark.sql.functions.struct
    val nested = df.select(col("row_id"),
      struct(col("repo"), col("lang")).as("meta"), col("content"))
    val dir = tmpDir("nested-idx")
    graft.encode.StoreLayout.write(
      TableCodec.encode(nested, chunkRows = 100),
      TableCodec.encodedNames(nested.schema), dir)
    // zone lookup on a top-level column of a nested table
    val byZone = graft.encode.MetaIndex.lookup(spark, dir, nested.schema, "row_id", "100", "199")
    assert(byZone.count() == 100)
    assert(byZone.schema("meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    // FULL index + positional gather on a DOTTED LEAF column
    IndexStore.createFull(spark, dir, nested.schema, "meta.repo")
    val target = midRepo
    val (viaIndex, choice) = Planner.query(spark, dir, nested.schema, "meta.repo", target, target)
    assert(choice.path == "index-gather", choice.toString)
    assert(viaIndex.count() == df.filter(col("repo") === target).count())
    assert(viaIndex.select("meta.repo").distinct().head().getString(0) == target)
  }

  test("BUCKET index equality probe is exact and prunes chunks") {
    val target = df.select("commit").head().getString(0)
    val viaBucket = IndexStore.bucketProbe(spark, storeDir, df.schema, "commit", target)
    val expected = df.filter(col("commit") === target)
    assert(viaBucket.count() == expected.count())
    assert(viaBucket.count() >= 1)
    // probe reads only chunks whose bucket set matched — a single commit
    // lives in one chunk, so the listed chunk set must be tiny
    val bk = IndexStore.bucketOfBytes(target.getBytes("UTF-8"), 1 << 14)
    val listed = spark.read.parquet(IndexStore.bucketPath(storeDir, "commit"))
      .filter(col("bucket") === bk).count()
    val total = spark.read.parquet(storeDir).count()
    assert(listed < total / 2, s"bucket lists $listed of $total chunks")
  }
}
