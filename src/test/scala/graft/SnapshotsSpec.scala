package graft

import graft.encode.{Snapshots, TableCodec}
import graft.lineage.Lineage
import org.apache.spark.sql.functions._

/** Reader-snapshot safety for copy-on-write mutations (the reference's
  * SWMR refresh/`.b2lock` story, schunk.py:524-543, storage.py:211-231,
  * tests/test_swmr.py — re-expressed as immutable files + version
  * listings): a reader whose scan resolved version N keeps reading
  * version N, complete and unmixed, while a writer commits N+1.
  */
class SnapshotsSpec extends SparkTestBase {

  private def rowHash(d: org.apache.spark.sql.DataFrame): Long =
    d.select(sum(crc32(sha2(concat_ws("|", d.columns.map(col): _*), 256)))).head().getLong(0)

  test("a reader mid-iteration over a CoW delete sees the OLD store, never a mix") {
    import spark.implicits._
    val input = (0L until 400L).map { i =>
      (i, if (i % 4 == 0) "kill" else "keep", s"payload-$i-" + "x" * 50)
    }.toDF("id", "tag", "body")
    val out = tmpDir("swmr")
    Lineage.encodeResumable(spark, input, out, Seq("id"), nShards = 8, nBatches = 1, chunkRows = 64)

    val oldHash = rowHash(input)

    // READER: plans its scan now — exactly a reader that is mid-scan
    // when the writer commits (the listing is resolved at DataFrame
    // creation, the payload reads happen later)
    Snapshots.ensureListing(spark, out)
    val inFlight = TableCodec.decode(Lineage.readBlocks(spark, out), input.schema)

    // WRITER: concurrent CoW delete commits a new version
    val deleted = Lineage.deleteWhere(spark, out, input.schema, col("tag") === "kill", chunkRows = 64)
    assert(deleted == 100)

    // the in-flight reader materializes AFTER the commit: full OLD store
    assert(inFlight.count() == 400, "pinned reader lost or gained rows — mixed state")
    assert(rowHash(inFlight) == oldHash, "pinned reader must see the old version bit-identically")

    // a NEW reader resolves the new version
    val fresh = TableCodec.decode(Lineage.readBlocks(spark, out), input.schema)
    assert(fresh.count() == 300)
    assert(fresh.filter(col("tag") === "kill").count() == 0)

    // vacuum reaps the replaced files; the current version is untouched
    val reaped = Snapshots.vacuum(spark, out)
    assert(reaped > 0, "delete must have left replaced files for vacuum")
    val after = TableCodec.decode(Lineage.readBlocks(spark, out), input.schema)
    assert(after.count() == 300)
    // physical state now equals the current listing exactly
    val cur = Snapshots.currentVersion(spark, out).get
    assert(Snapshots.dataFiles(spark, out).toSet == Snapshots.listing(spark, out, cur).toSet)
  }

  test("resumed encode on a snapshot-enabled store publishes every batch's files") {
    import spark.implicits._
    val input = (0L until 400L).map(i => (i, i % 5, s"body-$i")).toDF("id", "grp", "body")
    val out = tmpDir("swmr-resume")
    // crash mid-encode: 2 of 4 shards committed
    intercept[RuntimeException] {
      Lineage.encodeResumable(spark, input, out, Seq("id"),
        nShards = 4, nBatches = 2, chunkRows = 64, failAfterBatches = 1)
    }
    // a mutation on the partial store enables snapshot versioning
    val done1 = TableCodec.decode(Lineage.readBlocks(spark, out), input.schema).count()
    val del = Lineage.deleteWhere(spark, out, input.schema, col("grp") === 0L, chunkRows = 64)
    assert(del > 0 && del < 100)
    assert(Snapshots.enabled(spark, out))
    // resume: the remaining batches must land in the snapshot listing
    // (per-batch commits — an end-of-run-only commit loses every batch
    // a crash separates from it)
    Lineage.encodeResumable(spark, input, out, Seq("id"), nShards = 4, nBatches = 2, chunkRows = 64)
    val decoded = TableCodec.decode(Lineage.readBlocks(spark, out), input.schema)
    assert(decoded.count() == 400 - del, s"done1=$done1 del=$del got=${decoded.count()}")
    // and vacuum must NOT reap the resumed batches' files
    Snapshots.vacuum(spark, out)
    assert(TableCodec.decode(Lineage.readBlocks(spark, out), input.schema).count() == 400 - del)
    // torn window repair: listed files whose shard loses its manifest
    // rows are unlisted + re-encoded without loss or duplication
    val manifest = spark.read.parquet(Lineage.manifestPath(out)).filter(col("shard") =!= 1)
    val keep = tmpDir("swmr-resume-m")
    manifest.write.mode("overwrite").parquet(keep)
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(Lineage.manifestPath(out)), true)
    spark.read.parquet(keep).write.parquet(Lineage.manifestPath(out))
    Lineage.encodeResumable(spark, input, out, Seq("id"), nShards = 4, nBatches = 2, chunkRows = 64)
    // shard 1 was re-encoded from the ORIGINAL input, so its grp-0 rows
    // return; every other shard keeps the delete
    val after = TableCodec.decode(Lineage.readBlocks(spark, out), input.schema)
    assert(after.select("id").distinct().count() == after.count(), "no duplicated ids")
  }

  test("query-cache version keys off the committed snapshot, not directory mtimes") {
    import spark.implicits._
    val out = tmpDir("snapver")
    val input = (0 until 400).map(i => (i.toLong, (i % 5).toString)).toDF("id", "tag")
    Lineage.encodeResumable(spark, input, out, Seq("id"), nShards = 4, nBatches = 1, chunkRows = 64)

    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(st => st.getPath -> st.getModificationTime)
    val k1 = graft.encode.QueryCache.key(spark, out, "probe")

    // out-of-process CoW commit simulation: mutate (commits a snapshot
    // listing), then FREEZE every child mtime back to its pre-mutation
    // value — the behavior of object stores with synthetic directory
    // entries. The mtime fallback alone would serve the stale key; the
    // snapshot-versioned key must still change.
    assert(Lineage.deleteWhere(spark, out, input.schema, col("tag") === "3", chunkRows = 64) > 0)
    before.foreach { case (p, t) => if (fs.exists(p)) fs.setTimes(p, t, t) }
    val k2 = graft.encode.QueryCache.key(spark, out, "probe")
    assert(k1 != k2, s"stale cache key survived a snapshot commit under frozen mtimes: $k1")

    // and a second commit bumps it again
    assert(Lineage.deleteWhere(spark, out, input.schema, col("tag") === "4", chunkRows = 64) > 0)
    val k3 = graft.encode.QueryCache.key(spark, out, "probe")
    assert(k2 != k3)
  }

  test("delete with a FLOAT literal predicate is not wrongly zone-pruned") {
    import spark.implicits._
    // 0.1f widens to 0.10000000149…: the zone key is the widened value,
    // and a float-precision literal string would compare below it
    val input = (0L until 300L).map(i => (i, if (i < 100) 0.1f else 2.5f)).toDF("id", "f")
    val out = tmpDir("floatlit")
    Lineage.encodeResumable(spark, input, out, Seq("id"), nShards = 4, nBatches = 1, chunkRows = 64)
    assert(Lineage.deleteWhere(spark, out, input.schema, col("f") === 0.1f, chunkRows = 64) == 100L)
    assert(TableCodec.decode(Lineage.readBlocks(spark, out), input.schema).count() == 200)
  }

  test("chained mutations + append keep the listing consistent; crash-orphans are vacuumable") {
    import spark.implicits._
    val input = (0L until 300L).map(i => (i, i % 3, s"body-$i")).toDF("id", "grp", "body")
    val out = tmpDir("swmr2")
    Lineage.encodeResumable(spark, input, out, Seq("id"), nShards = 4, nBatches = 1, chunkRows = 64)

    assert(Lineage.deleteWhere(spark, out, input.schema, col("grp") === 0L, chunkRows = 64) == 100)
    assert(Lineage.updateWhere(spark, out, input.schema, col("grp") === 1L,
      Map("body" -> concat(lit("v2:"), col("body"))), chunkRows = 64) == 100)
    val decoded = TableCodec.decode(Lineage.readBlocks(spark, out), input.schema)
    assert(decoded.count() == 200)
    assert(decoded.filter(col("body").startsWith("v2:")).count() == 100)

    // an orphan file (writer crashed after its append, before its
    // commit) is invisible to reads and reaped by vacuum
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$out/shard=0/part-orphan-crashed.snappy.parquet")
    val os = fs.create(orphan, true); os.write(Array[Byte](1, 2, 3)); os.close()
    assert(TableCodec.decode(Lineage.readBlocks(spark, out), input.schema).count() == 200,
      "uncommitted file must be invisible to listing-based reads")
    Snapshots.vacuum(spark, out)
    assert(!fs.exists(orphan), "vacuum must reap files no version references")

    // inserts after mutations land in the current listing
    val more = (1000L until 1100L).map(i => (i, i % 3, s"body-$i")).toDF("id", "grp", "body")
    val (rep, ins) = Lineage.upsert(spark, out, input.schema, more, Seq("id"), chunkRows = 64)
    assert(rep == 0 && ins == 100)
    assert(TableCodec.decode(Lineage.readBlocks(spark, out), input.schema).count() == 300)
  }
}
