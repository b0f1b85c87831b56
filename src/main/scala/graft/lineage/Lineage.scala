package graft.lineage

import graft.encode.{EncodedBlock, StoreLayout, TableCodec}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.AccumulatorV2

/** Resumable encode DAG with per-shard lineage — the north rule's
  * checkpoint/resume requirement. The reference has no restart story
  * (single process); the closest pattern is its idempotent chunk-aligned
  * writes (python-blosc2 `ctable.py:3747` _ChunkAlignedWriter), which we
  * lift to Spark job granularity.
  *
  * Model:
  *  - every row belongs to a *shard* = xxhash64(identity columns) % nShards
  *    (content-addressed → stable across runs, retries, repartitioning);
  *  - shards are processed in batches; each batch is one atomic Spark
  *    parquet append (FileOutputCommitter commits at job granularity);
  *  - after a batch commits, one manifest row per shard (rows, bytes,
  *    cbytes, wall) is appended to `<out>/_manifest`; the sizes are
  *    tallied from the blocks the write job itself emits, through one
  *    named accumulator per batch ([[ShardTally]]), not re-read from
  *    the store;
  *  - on restart, shards already in the manifest are skipped.
  *
  * Scale: the manifest is O(nShards) tiny rows. The source is read
  * ONCE for any batch count: multi-batch runs stage the sharded rows
  * to `<out>/_stage` partitioned by a stable batch id (the shard-hash
  * predicate is not pushable into any source format, so per-batch
  * source re-scans would cost nBatches × input at 100 TB), and each
  * batch reads only its pruned stage partition. A crashed run's stage
  * is reused on resume — the remaining batches read zero source bytes.
  */
object Lineage {

  final case class ShardManifest(
      shard: Int,
      batch: Int,
      nRows: Long,
      nBytes: Long,
      cBytes: Long,
      wallMs: Long,
      finishedAtMs: Long
  )

  final case class RunSummary(
      shardsDone: Int,
      shardsSkipped: Int,
      nRows: Long,
      nBytes: Long,
      cBytes: Long,
      wallMs: Long
  )

  val SHARD_COL = "__graft_shard"

  /** Batch-partition column of the staged input (no leading underscore:
    * partition DIRECTORIES named `_...=N` would be hidden from parquet
    * discovery).
    */
  val BATCH_COL = "graft_stage_batch"

  def stagePath(outDir: String): String = s"$outDir/_stage"

  /** Stable shard→batch assignment (contiguous balanced ranges): stable
    * across runs, so a resumed run maps the crashed run's staged
    * partitions to the same batches.
    */
  def batchOf(shard: Int, nShards: Int, nBatches: Int): Int =
    ((shard.toLong * nBatches) / nShards).toInt

  /** Above this many upsert keys the anti-join side is not broadcast
    * (a 100M-key broadcast OOMs every executor); AQE picks the join.
    * Overridable for tests via this spark conf key.
    */
  val BROADCAST_KEYS_CONF = "graft.upsert.broadcastMaxKeys"
  val BROADCAST_KEYS_DEFAULT = 1000000L

  /** INITIAL physical plan of the most recent upsert's anti-join
    * (diagnostics only: pre-AQE strategy of the standalone join, which
    * may differ from the adaptively-final plan inside the encode RDD;
    * last-write-wins under concurrent upserts). The join itself emits
    * no SQL-execution event, hence this hook.
    */
  @volatile var lastUpsertJoinPlan: String = ""

  def manifestPath(outDir: String): String = s"$outDir/_manifest"

  /** Shards with a manifest row. Empty only when no manifest was ever
    * committed: the directory is absent, or holds nothing but the
    * hidden leftovers of a first manifest append that crashed before
    * its commit. Any other read failure (a corrupt or unreadable
    * manifest) propagates — treating it as empty would make
    * encodeResumable delete and re-encode every shard.
    */
  def completedShards(spark: SparkSession, outDir: String): Set[Int] = {
    val files = dataFiles(spark, manifestPath(outDir))
    if (files.isEmpty) Set.empty
    else spark.read.schema(Encoders.product[ShardManifest].schema).parquet(files: _*)
      .select("shard").collect().map(_.getInt(0)).toSet
  }

  /** The entries of `dir` whose names do not start with `_` or `.`
    * (none when `dir` is absent). A side table kept under a hidden path
    * (`_manifest`, a generated column's `_state`) is read through these:
    * given the hidden directory itself, Spark ignores it with a warning.
    */
  private[lineage] def dataFiles(spark: SparkSession, dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).map(_.getPath).filter { f =>
      !f.getName.startsWith("_") && !f.getName.startsWith(".")
    }.map(_.toString).toSeq
  }

  /** The store's lineage shard count, from the manifest (one row per
    * shard is written even for empty shards, so this is exact).
    */
  def storeShardCount(spark: SparkSession, outDir: String): Option[Int] = {
    val n = completedShards(spark, outDir).size
    if (n == 0) None else Some(n)
  }

  /** Encode `input` into `outDir` resumably.
    *
    * @param idCols   columns whose hash defines the shard (row identity)
    * @param nShards  lineage granularity (≫ batches; e.g. 64)
    * @param nBatches resume granularity (atomic units of work)
    * @param failAfterBatches test hook: throw after N batches to
    *                         simulate a mid-job crash
    */
  def encodeResumable(
      spark: SparkSession,
      input: DataFrame,
      outDir: String,
      idCols: Seq[String],
      nShards: Int = 64,
      nBatches: Int = 8,
      chunkRows: Int = TableCodec.CHUNK_ROWS,
      failAfterBatches: Int = Int.MaxValue
  ): RunSummary = {
    val names = TableCodec.encodedNames(input.schema)
    val done = completedShards(spark, outDir)
    val all = (0 until nShards).toSet
    val pending = (all -- done).toSeq.sorted
    // The manifest is the source of truth: a crash between a batch's data
    // append and its manifest append leaves committed blocks with no
    // manifest row. Re-encoding those shards would duplicate rows, so on
    // resume drop any partition dirs of still-pending shards first.
    // (Unconditional: a crash in the FIRST batch's window leaves data
    // with an EMPTY manifest — on a truly fresh run the dirs simply
    // don't exist and the delete is a no-op.)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(outDir), spark.sparkContext.hadoopConfiguration)
    if (pending.nonEmpty) {
      pending.foreach { sh =>
        val p = new org.apache.hadoop.fs.Path(s"$outDir/shard=$sh")
        if (fs.exists(p)) fs.delete(p, true)
      }
      // snapshot-enabled stores: files we just deleted must leave the
      // listing too (a crash between a batch's snapshot commit and its
      // manifest append leaves listed-but-unmanifested files, which the
      // lines above removed physically)
      graft.encode.Snapshots.currentVersion(spark, outDir).foreach { v =>
        val listed = graft.encode.Snapshots.listing(spark, outDir, v)
        val pendingSet = pending.toSet
        val keep = listed.filterNot(f => pendingSet.contains(graft.encode.Snapshots.shardOf(f)))
        if (keep.size != listed.size) {
          graft.encode.Snapshots.commit(spark, outDir, keep)
          ()
        }
      }
    }
    // stable shard→batch groups of the pending shards: a batch is one
    // atomic unit of work (data append + manifest append)
    val batchGroups: Seq[(Int, Seq[Int])] =
      pending.groupBy(batchOf(_, nShards, nBatches)).toSeq.sortBy(_._1)

    val sharded = input.withColumn(
      SHARD_COL,
      pmod(xxhash64(idCols.map(col): _*), lit(nShards)).cast("int"))

    // SINGLE source scan for any nBatches: with more than one batch
    // ahead, stage the sharded pending rows ONCE under <out>/_stage,
    // partitioned by the stable batch id — each batch then reads only
    // its own partition directory (pruned), so total IO is one source
    // read + one stage write + one stage read, instead of nBatches
    // source scans (the shard-hash predicate is not pushable into any
    // source format). The stage survives a crash: a resumed run reuses
    // it and reads ZERO source bytes for the remaining batches.
    val stageDir = stagePath(outDir)
    val staged = stageValid(spark, outDir, nShards, nBatches, pending, sharded.schema)
    val useStage = staged || batchGroups.size > 1
    if (useStage && !staged) {
      require(!input.columns.contains(BATCH_COL),
        s"input may not contain the reserved column $BATCH_COL")
      fs.delete(new org.apache.hadoop.fs.Path(stageDir), true)
      sharded.filter(col(SHARD_COL).isin(pending.map(Integer.valueOf): _*))
        .withColumn(BATCH_COL,
          floor(col(SHARD_COL).cast("long") * nBatches / nShards).cast("int"))
        .write.partitionBy(BATCH_COL).parquet(stageDir)
      writeStageMeta(fs, stageDir, nShards, nBatches, pending, sharded.schema)
    }

    var rows = 0L; var nb = 0L; var cb = 0L; var wall = 0L
    var batchIdx = 0
    batchGroups.foreach { case (bId, shardBatch) =>
      if (batchIdx >= failAfterBatches)
        throw new RuntimeException(s"[lineage-test] injected failure before batch $batchIdx")
      val t0 = System.nanoTime()
      // the stage root starts with '_' (hidden from the store's own
      // parquet discovery), so address the batch's partition directory
      // EXPLICITLY — its own name is not hidden, and the read touches
      // only this batch's files. The staged schema is known (stageValid
      // checked it against the meta), so no footer-inference job runs.
      val src =
        if (useStage) {
          val bp = new org.apache.hadoop.fs.Path(s"$stageDir/$BATCH_COL=$bId")
          if (fs.exists(bp)) spark.read.schema(sharded.schema).parquet(bp.toString)
          // absent dir = the batch's shards staged zero rows (still need
          // their empty-shard manifest rows; limit(0) folds to an empty
          // relation, no scan)
          else sharded.limit(0)
        } else sharded
      val batchDf = src.filter(col(SHARD_COL).isin(shardBatch.map(Integer.valueOf): _*))
        // cluster rows of a shard together so blocks are shard-pure
        .repartition(math.max(shardBatch.size, spark.sparkContext.defaultParallelism), col(SHARD_COL))
        .sortWithinPartitions(SHARD_COL)
      // The encode runs in the write job's result stage, so the tally
      // counts each committed block exactly once: Spark merges a result
      // task's accumulator update once per partition (a retried or
      // speculative duplicate adds nothing), and a failed attempt's
      // updates are dropped. An RDD-level map keeps the payloads
      // serialized as the encoder emitted them.
      val tally = new ShardTally
      spark.sparkContext.register(tally, s"graft.lineage.tally.batch$bId")
      val blocks = TableCodec.encodeRdd(batchDf, chunkRows = chunkRows, shardCol = Some(SHARD_COL))
        .map { b => tally.add(b); b }
      StoreLayout.write(spark.createDataset(blocks)(Encoders.product[EncodedBlock]),
        names, outDir, SaveMode.Append)
      // snapshot-enabled stores (a CoW mutation ran before this append
      // run): publish the batch's files PER BATCH, before its manifest
      // row. A crash in between leaves listed-but-unmanifested files,
      // which the resume cleanup above deletes and unlists; committing
      // only at end-of-run would instead lose every batch a crash
      // separated from the final commit. Pending shard dirs were wiped
      // at run start, so every unlisted file in this batch's shards is
      // this run's own output (never a vacuum-pending replaced file).
      graft.encode.Snapshots.currentVersion(spark, outDir).foreach { v =>
        val listed = graft.encode.Snapshots.listing(spark, outDir, v).toSet
        val added = graft.encode.Snapshots.dataFiles(spark, outDir, Some(shardBatch.toSet))
          .filterNot(listed)
        if (added.nonEmpty) {
          graft.encode.Snapshots.commit(spark, outDir, (listed ++ added).toSeq)
          ()
        }
      }
      val wallMs = (System.nanoTime() - t0) / 1000000L

      // metrics of what was just committed, tallied by the write job
      // itself (no store re-read); shards with zero rows still need a
      // manifest row (done ≠ has data)
      val found = tally.value
      val now = System.currentTimeMillis()
      val manifest = shardBatch.map { s =>
        val (r, n, c) = found.getOrElse(s, (0L, 0L, 0L))
        ShardManifest(s, bId, r, n, c, wallMs, now)
      }
      spark.createDataset(manifest)(Encoders.product[ShardManifest])
        .coalesce(1).write.mode(SaveMode.Append).parquet(manifestPath(outDir))

      rows += manifest.map(_.nRows).sum
      nb += manifest.map(_.nBytes).sum
      cb += manifest.map(_.cBytes).sum
      wall += wallMs
      batchIdx += 1
    }
    // the stage is scratch space for THIS run — gone once every batch
    // committed (a no-op resume also clears any leftover)
    fs.delete(new org.apache.hadoop.fs.Path(stageDir), true)
    graft.encode.QueryCache.invalidate(outDir)
    RunSummary(pending.size, done.size, rows, nb, cb, wall)
  }

  private val STAGE_META = "_graft_stage.json"
  /** The staged schema's JSON is the meta's LAST field, so the fields
    * before it hold only numbers and the regexes below cannot match
    * inside a column's name or metadata.
    */
  private val STAGE_SCHEMA_KEY = ",\"schema\":"

  /** The stage is reusable iff its commit marker exists with the same
    * geometry and the same schema (the batches read it schema-on-read),
    * and its staged shard set covers every currently-pending shard (a
    * crashed run staged a superset of what remains).
    */
  private def stageValid(spark: SparkSession, outDir: String, nShards: Int, nBatches: Int,
                         pending: Seq[Int], schema: StructType): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"${stagePath(outDir)}/$STAGE_META")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return false
    val in = fs.open(p)
    val text = new String(in.readAllBytes(), "UTF-8")
    in.close()
    val cut = text.indexOf(STAGE_SCHEMA_KEY)
    if (cut < 0) return false
    val head = text.substring(0, cut)
    val stagedSchema = text.substring(cut + STAGE_SCHEMA_KEY.length, text.length - 1)
    def num(k: String): Option[Long] =
      (k + """\s*:\s*(\d+)""").r.findFirstMatchIn(head).map(_.group(1).toLong)
    val shardsOk = num("\"nShards\"").contains(nShards.toLong) &&
      num("\"nBatches\"").contains(nBatches.toLong)
    val stagedSet = """"pending"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(head)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSet)
      .getOrElse(Set.empty[Int])
    shardsOk && stagedSchema == schema.json && pending.forall(stagedSet.contains)
  }

  /** Written AFTER the stage parquet commit — its existence marks the
    * stage complete (a crash mid-stage leaves no marker, so resume
    * re-stages).
    */
  private def writeStageMeta(fs: org.apache.hadoop.fs.FileSystem, stageDir: String, nShards: Int,
                             nBatches: Int, pending: Seq[Int], schema: StructType): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$stageDir/$STAGE_META"), true)
    out.write(
      (s"""{"nShards":$nShards,"nBatches":$nBatches,"pending":[${pending.mkString(",")}]""" +
        s"$STAGE_SCHEMA_KEY${schema.json}}").getBytes("UTF-8"))
    out.close()
  }

  /** Per-shard (nRows, nBytes, cBytes) sums of the blocks a batch's
    * write job emits. Merges by shard, so its value holds one entry per
    * shard of the batch whatever the block count.
    */
  private[lineage] final class ShardTally
      extends AccumulatorV2[EncodedBlock, Map[Int, (Long, Long, Long)]] {
    private val sums = scala.collection.mutable.HashMap.empty[Int, Array[Long]]

    private def addSums(shard: Int, nRows: Long, nBytes: Long, cBytes: Long): Unit = {
      val a = sums.getOrElseUpdate(shard, new Array[Long](3))
      a(0) += nRows; a(1) += nBytes; a(2) += cBytes
    }

    override def isZero: Boolean = sums.isEmpty
    override def copy(): ShardTally = { val t = new ShardTally; t.merge(this); t }
    override def reset(): Unit = sums.clear()
    override def add(b: EncodedBlock): Unit = addSums(b.shard, b.nRows.toLong, b.nBytes, b.cBytes)
    override def merge(other: AccumulatorV2[EncodedBlock, Map[Int, (Long, Long, Long)]]): Unit =
      other match {
        case o: ShardTally => o.sums.foreach { case (s, a) => addSums(s, a(0), a(1), a(2)) }
        case _ => throw new UnsupportedOperationException(s"cannot merge ${other.getClass.getName}")
      }
    override def value: Map[Int, (Long, Long, Long)] =
      sums.iterator.map { case (s, a) => s -> ((a(0), a(1), a(2))) }.toMap
  }

  /** Copy-on-write delete over the encoded store (the Spark-native
    * analog of the reference's validity-mask delete, python-blosc2
    * ctable.py:12688, lifted to Iceberg-style shard rewrite): decode
    * only the shards containing matching rows, filter them out,
    * re-encode, and atomically replace just those shard partitions
    * (dynamic partition overwrite). Untouched shards' files are never
    * read or written.
    *
    * @return number of rows deleted
    */
  def deleteWhere(
      spark: SparkSession,
      outDir: String,
      schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column,
      chunkRows: Int = TableCodec.CHUNK_ROWS
  ): Long = {
    // Pass 1 (discovery): decode only what the predicate can touch —
    // zone-candidate chunks (PredicatePrune; non-candidate shards'
    // payload bytes are never read) and only the predicate's columns
    // (v2 layout leaf pruning) — emitting (shard, n_deleted), a tiny
    // agg. SQL three-valued logic: a row is deleted iff the predicate
    // is TRUE (not NULL), so both the count here and the keep-filter
    // below coalesce NULL→false.
    val matched = coalesce(predicate, lit(false))
    val (hitShards, deleted) = discover(spark, outDir, schema, predicate, matched)
    if (hitShards.isEmpty) return 0L

    // Pass 2 (rewrite): decode ONLY the hit shards once; keep rows where
    // the predicate is not TRUE (NULL-valued predicates keep the row).
    val affected = readBlocks(spark, outDir, Some(hitShards))
    rewrite(spark, outDir, schema, hitShards, chunkRows,
      TableCodec.decode(affected, schema, shardColName = Some(SHARD_COL)).filter(not(matched)))
    deleted
  }

  /** Copy-on-write UPDATE over the encoded store (the reference's
    * update_chunk/__setitem__ path, python-blosc2 schunk.py:1013/1243,
    * lifted to shard-granular rewrite): decode only shards containing
    * matching rows, apply the SET expressions to matching rows, and
    * atomically replace those shard partitions. NULL-valued predicates
    * leave the row unchanged (three-valued logic).
    *
    * @param set    column name → new-value expression (evaluated on the row)
    * @param idCols the store's identity columns (as passed to
    *               encodeResumable) — SET may not target them, because a
    *               row's shard is its identity hash and an in-place
    *               rewrite would strand the row in the wrong shard,
    *               breaking upsert's shard-scoped key matching
    * @return number of rows updated
    */
  def updateWhere(
      spark: SparkSession,
      outDir: String,
      schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column],
      chunkRows: Int = TableCodec.CHUNK_ROWS,
      idCols: Seq[String] = Nil
  ): Long = {
    require(set.keys.forall(schema.fieldNames.contains), s"unknown SET columns: ${set.keys}")
    require(set.keys.forall(!idCols.contains(_)),
      s"SET may not target identity columns ${set.keys.filter(idCols.contains)} — " +
        "delete + re-append instead (the shard is the identity hash)")
    val matched = coalesce(predicate, lit(false))
    val (hitShards, updated) = discover(spark, outDir, schema, predicate, matched)
    if (hitShards.isEmpty) return 0L

    val decoded = TableCodec.decode(readBlocks(spark, outDir, Some(hitShards)), schema, shardColName = Some(SHARD_COL))
    val projected = decoded.select(
      (schema.fieldNames.map { n =>
        set.get(n) match {
          case Some(e) => when(matched, e).otherwise(col(n)).as(n)
          case None => col(n)
        }
      } :+ col(SHARD_COL)): _*)
    rewrite(spark, outDir, schema, hitShards, chunkRows, projected)
    updated
  }

  /** Upsert (the reference's extend/insert path, ctable.py:12718 +
    * schunk.py:912 insert_chunk): rows of `newRows` whose `idCols`
    * already exist replace the old rows; the rest are inserted. Only
    * the shards hashed by the new rows are decoded and rewritten.
    *
    * @param nShards the store's lineage shard count; -1 (default) reads
    *                it from the manifest. A wrong explicit value would
    *                hash existing keys to the wrong shard and silently
    *                insert duplicates, so a manifest mismatch fails.
    * @return (rowsReplaced, rowsInserted)
    */
  def upsert(
      spark: SparkSession,
      outDir: String,
      schema: org.apache.spark.sql.types.StructType,
      newRows: DataFrame,
      idCols: Seq[String],
      nShards: Int = -1,
      chunkRows: Int = TableCodec.CHUNK_ROWS
  ): (Long, Long) = {
    val manifestShards = storeShardCount(spark, outDir)
    val effShards = (manifestShards, nShards) match {
      case (Some(m), -1) => m
      case (Some(m), n) =>
        require(n == m, s"upsert nShards=$n does not match the store's manifest shard count $m")
        n
      case (None, -1) =>
        throw new IllegalStateException(s"no manifest under $outDir — pass nShards explicitly")
      case (None, n) => n
    }
    val sharded = newRows.withColumn(
      SHARD_COL, pmod(xxhash64(idCols.map(col): _*), lit(effShards)).cast("int"))
    // ONE pass over newRows yields both the hit-shard set and the count
    val shardCounts = sharded.groupBy(SHARD_COL).count().collect()
    val hitShards = shardCounts.map(_.getInt(0)).toSeq.sorted
    val newCount = shardCounts.map(_.getLong(1)).sum
    // row counts before/after come from store METADATA (nRows column,
    // payloads never read) — the only decode of the affected shards is
    // the one inside the rewrite job itself
    def metaRows(): Long = {
      val r = graft.encode.Snapshots.storeDf(spark, outDir)
        .filter(col("shard").isin(hitShards.map(Integer.valueOf): _*))
        .agg(sum("nRows")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val oldRows = metaRows()
    val old = TableCodec.decode(readBlocks(spark, outDir, Some(hitShards)), schema, shardColName = Some(SHARD_COL))
    val keyOnly = newRows.select(idCols.map(col): _*)
    // size-gate the broadcast: beyond the threshold let AQE pick the join
    val maxBcast = spark.conf.getOption(BROADCAST_KEYS_CONF).map(_.toLong).getOrElse(BROADCAST_KEYS_DEFAULT)
    val probe = if (newCount <= maxBcast) broadcast(keyOnly) else keyOnly
    val kept = old.join(probe, idCols, "left_anti")
    // observability: the join executes inside the encode stage's RDD
    // lineage (no SQL execution event carries it), so record the
    // planned strategy here for diagnostics and the plan-shape spec
    lastUpsertJoinPlan = kept.queryExecution.executedPlan.toString
    val merged = kept.select((schema.fieldNames.map(col) :+ col(SHARD_COL)): _*)
      .unionByName(sharded.select((schema.fieldNames.map(col) :+ col(SHARD_COL)): _*))
    rewrite(spark, outDir, schema, hitShards, chunkRows, merged)
    val afterRows = metaRows()
    val replaced = oldRows + newCount - afterRows
    (replaced, newCount - replaced)
  }

  /** CoW rewrite tail: re-encode `rows` (schema columns plus SHARD_COL,
    * only the `hitShards`' rows) with each shard's rows clustered
    * together, so re-encoded blocks are shard-pure, and commit them as
    * the replacement of those shards ([[commitCoW]]).
    */
  private def rewrite(spark: SparkSession, outDir: String, schema: org.apache.spark.sql.types.StructType,
                      hitShards: Seq[Int], chunkRows: Int, rows: DataFrame): Unit = {
    val clustered = rows
      .repartition(math.max(hitShards.size, spark.sparkContext.defaultParallelism), col(SHARD_COL))
      .sortWithinPartitions(SHARD_COL)
    val reencoded = TableCodec.encode(clustered, chunkRows = chunkRows, shardCol = Some(SHARD_COL))
    commitCoW(spark, outDir, hitShards.toSet, reencoded, TableCodec.encodedNames(schema))
  }

  /** Commit a copy-on-write rewrite of `hitShards` with READER-SNAPSHOT
    * safety (the reference's SWMR refresh/lock story, schunk.py:524-543
    * + storage.py:211-231, redesigned around immutable files —
    * Snapshots): the replacement chunks are APPENDED as new files (old
    * files untouched), derived data is dropped, and the new version's
    * file listing — previous listing minus the hit shards' files plus
    * the appended files — is committed atomically. A reader that
    * resolved the old listing keeps reading the old, complete store; a
    * crash anywhere before the commit leaves the old version intact
    * (orphan files are reaped by Snapshots.vacuum). Replaced files are
    * retained until an explicit vacuum.
    */
  private def commitCoW(
      spark: SparkSession,
      outDir: String,
      hitShards: Set[Int],
      reencoded: Dataset[EncodedBlock],
      names: Seq[String]): Unit = {
    import graft.encode.Snapshots
    val before = Snapshots.ensureListing(spark, outDir)
    val pre = Snapshots.dataFiles(spark, outDir, Some(hitShards)).toSet
    StoreLayout.write(reencoded, names, outDir, SaveMode.Append)
    val added = Snapshots.dataFiles(spark, outDir, Some(hitShards)).filterNot(pre)
    val keep = before.filterNot(f => hitShards.contains(Snapshots.shardOf(f))) ++ added
    // derived data (indexes, offsets) addresses pre-rewrite chunk
    // positions — drop BEFORE the version commit, so a crash in between
    // cannot leave a live index over the new version's chunks
    dropDerived(spark, outDir)
    Snapshots.commit(spark, outDir, keep)
    ()
  }

  /** Shared CoW discovery pass: the shards holding rows where `matched`
    * (= predicate with NULL→false) is TRUE, sorted, and how many such
    * rows there are, decoding ONLY zone-candidate chunks and ONLY the
    * predicate's own columns. Sound because a non-candidate chunk
    * cannot contain a predicate-TRUE row (zone pruning is conservative)
    * and the count needs no other columns.
    */
  private def discover(
      spark: SparkSession,
      outDir: String,
      schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column,
      matched: org.apache.spark.sql.Column): (Seq[Int], Long) = {
    val passSchema = graft.encode.PredicatePrune.referencedColumns(spark, schema, predicate)
      .map(ns => org.apache.spark.sql.types.StructType(ns.map(schema(_))))
      .getOrElse(schema)
    val blocks = graft.encode.PredicatePrune.candidateBlocks(
      spark, outDir, schema, predicate, TableCodec.encodedNames(passSchema))
    val hits = TableCodec.decode(blocks, passSchema, shardColName = Some(SHARD_COL))
      .groupBy(col(SHARD_COL))
      .agg(sum(matched.cast("long")).as("n"))
      .filter(col("n") > 0)
      .collect()
    (hits.map(_.getInt(0)).toSeq.sorted, hits.map(_.getLong(1)).sum)
  }

  /** Secondary indexes and the offsets table address rows by
    * (shard, partId, chunkId, pos) — any copy-on-write rewrite
    * invalidates them. Dropped BEFORE the rewrite commits (dropping
    * derived data early is always safe; dropping late leaves a crash
    * window where a stale index silently returns wrong rows). The
    * Planner falls back to zone scans until `create*` rebuilds.
    * Generated columns are NOT dropped: their per-shard fingerprints
    * (GeneratedCols._state) go stale and refresh recomputes them.
    */
  private def dropDerived(spark: SparkSession, outDir: String): Unit = {
    graft.encode.QueryCache.invalidate(outDir)
    val p = new org.apache.hadoop.fs.Path(s"$outDir/_index")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  private[lineage] def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try body
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  /** Read encoded blocks back (all shards or a subset — partition-pruned). */
  def readBlocks(spark: SparkSession, outDir: String, shards: Option[Seq[Int]] = None): Dataset[EncodedBlock] =
    StoreLayout.readBlocks(spark, outDir, names = null, shards = shards)
}
