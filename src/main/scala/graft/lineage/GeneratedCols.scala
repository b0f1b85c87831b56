package graft.lineage

import graft.encode.{StoreLayout, TableCodec}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** User-expression generated columns over an encoded store, with
  * per-shard staleness tracking and selective refresh — the reference's
  * `add_computed_column` / `refresh_generated_column` story
  * (python-blosc2 ctable.py:10792 / :10408), re-expressed on the
  * lineage shard grid.
  *
  * Layout (all under `<store>/_gen/<name>/`):
  *  - `data/`  — the materialized values as a graft-encoded one-value
  *    sidecar store `(idCols..., <name>)`, partitioned by the SAME
  *    lineage shard as the main store (values of a shard are co-located
  *    with their rows; a shard's refresh is one dynamic-partition
  *    overwrite);
  *  - `_state/` — one row per shard: the MAIN store's metadata
  *    fingerprint (sha256 over the shard's chunk shas) at compute time;
  *  - `_exprmeta.json` — the expression text + identity columns.
  *
  * Staleness is detected by comparing saved fingerprints against the
  * store's CURRENT fingerprints — a metadata-only scan (chunk `sha`
  * leaves; payload pages never read). Any CoW mutation
  * (deleteWhere/updateWhere/upsert) rewrites its hit shards' chunks,
  * changing those shards' fingerprints, so exactly the mutated shards
  * show up stale and `refresh` recomputes only them (partition-dir
  * pruned read, dynamic-partition overwrite write).
  */
object GeneratedCols {

  final case class GenMeta(name: String, expr: String, idCols: Seq[String])

  def genPath(storeDir: String, name: String) = s"$storeDir/_gen/$name"
  def dataPath(storeDir: String, name: String) = s"${genPath(storeDir, name)}/data"
  def statePath(storeDir: String, name: String) = s"${genPath(storeDir, name)}/_state"
  private def metaPath(storeDir: String, name: String) = s"${genPath(storeDir, name)}/_exprmeta.json"

  def exists(spark: SparkSession, storeDir: String, name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(metaPath(storeDir, name))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Per-shard fingerprint of the main store: sha256 over the sorted
    * (partId, chunkId, per-column sha) signatures. Metadata-only — the
    * scan schema carries key columns and `sha` leaves, never payloads.
    */
  def fingerprints(spark: SparkSession, storeDir: String): DataFrame = {
    val df = graft.encode.Snapshots.storeDf(spark, storeDir)
    val fields = StoreLayout.storeColFields(df.schema)
    df.select(col("shard"),
        concat_ws(":",
          (Seq(col("partId").cast("string"), col("chunkId").cast("string")) ++
            fields.map(f => hex(col(s"$f.sha")))): _*).as("sig"))
      .groupBy("shard")
      .agg(sha2(concat_ws("|", sort_array(collect_list("sig"))), 256).as("fingerprint"))
  }

  /** Materialize `exprSql` over the whole store as generated column
    * `name` and record the per-shard fingerprints it was computed at.
    */
  def add(spark: SparkSession, storeDir: String, schema: StructType,
          name: String, exprSql: String, idCols: Seq[String]): Unit = {
    require(!schema.fieldNames.contains(name), s"column $name already exists in the table")
    require(idCols.nonEmpty && idCols.forall(schema.fieldNames.contains),
      s"idCols must name existing columns: $idCols")
    // meta is written LAST: it is the commit marker. A crash mid-add
    // (bad expression, executor failure) must not leave a column that
    // exists() reports but whose _state read crashes.
    compute(spark, storeDir, schema, GenMeta(name, exprSql, idCols), shards = None)
    fingerprints(spark, storeDir)
      .repartition(1).write.mode(SaveMode.Overwrite).parquet(statePath(storeDir, name))
    writeMeta(spark, storeDir, GenMeta(name, exprSql, idCols))
  }

  /** Shards whose main-store fingerprint changed since the generated
    * column was (re)computed. O(nShards) driver rows.
    */
  def staleShards(spark: SparkSession, storeDir: String, name: String): Seq[Int] = {
    val cur = fingerprints(spark, storeDir)
    val saved = spark.read.parquet(Lineage.dataFiles(spark, statePath(storeDir, name)): _*)
      .withColumnRenamed("fingerprint", "saved")
    cur.join(saved, Seq("shard"), "left")
      .filter(col("saved").isNull || col("saved") =!= col("fingerprint"))
      .select("shard").collect().map(_.getInt(0)).toSeq.sorted
  }

  /** Recompute ONLY the stale shards (partition-dir-pruned read of the
    * main store, dynamic-partition overwrite of the sidecar) and
    * re-pin the state. Returns the shards recomputed.
    */
  def refresh(spark: SparkSession, storeDir: String, schema: StructType,
              name: String): Seq[Int] = {
    val meta = readMeta(spark, storeDir, name)
    val stale = staleShards(spark, storeDir, name)
    if (stale.isEmpty) return Nil
    compute(spark, storeDir, schema, meta, shards = Some(stale))
    fingerprints(spark, storeDir)
      .repartition(1).write.mode(SaveMode.Overwrite).parquet(statePath(storeDir, name))
    stale
  }

  /** The decoded table with the generated column joined on, id-keyed.
    * Fails loudly if any shard is stale — call refresh first.
    */
  def read(spark: SparkSession, storeDir: String, schema: StructType,
           name: String): DataFrame = {
    val meta = readMeta(spark, storeDir, name)
    val stale = staleShards(spark, storeDir, name)
    require(stale.isEmpty,
      s"generated column $name is stale on shards $stale — run refresh")
    val main = TableCodec.decode(Lineage.readBlocks(spark, storeDir), schema)
    main.join(readValues(spark, storeDir, schema, meta), meta.idCols, "left")
  }

  /** Decoded sidecar values `(idCols..., name)`. */
  def readValues(spark: SparkSession, storeDir: String, schema: StructType,
                 meta: GenMeta): DataFrame = {
    val side = sidecarSchema(spark, schema, meta)
    TableCodec.decode(
      StoreLayout.readBlocks(spark, dataPath(storeDir, meta.name)), side)
  }

  private def sidecarSchema(spark: SparkSession, schema: StructType, meta: GenMeta): StructType =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .select(meta.idCols.map(col) :+ expr(meta.expr).as(meta.name): _*)
      .schema

  private def compute(spark: SparkSession, storeDir: String, schema: StructType,
                      meta: GenMeta, shards: Option[Seq[Int]]): Unit = {
    val decoded = TableCodec.decode(
      Lineage.readBlocks(spark, storeDir, shards), schema,
      shardColName = Some(Lineage.SHARD_COL))
    val values = decoded.select(
      meta.idCols.map(col) ++ Seq(expr(meta.expr).as(meta.name), col(Lineage.SHARD_COL)): _*)
    val side = sidecarSchema(spark, schema, meta)
    val encoded = TableCodec.encode(values, shardCol = Some(Lineage.SHARD_COL))
    Lineage.withDynamicOverwrite(spark) {
      StoreLayout.write(encoded, TableCodec.encodedNames(side), dataPath(storeDir, meta.name),
        SaveMode.Overwrite)
    }
  }

  private def writeMeta(spark: SparkSession, storeDir: String, meta: GenMeta): Unit = {
    val p = new org.apache.hadoop.fs.Path(metaPath(storeDir, meta.name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    val ids = meta.idCols.map(c => "\"" + c + "\"").mkString(",")
    // expr is stored base64 so arbitrary SQL text never fights the
    // hand-rolled json (no json library on the unmanaged classpath)
    val b64 = java.util.Base64.getEncoder.encodeToString(meta.expr.getBytes("UTF-8"))
    out.write(s"""{"name":"${meta.name}","exprB64":"$b64","idCols":[$ids]}""".getBytes("UTF-8"))
    out.close()
  }

  def readMeta(spark: SparkSession, storeDir: String, name: String): GenMeta = {
    val p = new org.apache.hadoop.fs.Path(metaPath(storeDir, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no generated column $name under $storeDir")
    val in = fs.open(p)
    val text = new String(in.readAllBytes(), "UTF-8")
    in.close()
    val b64 = """"exprB64":\s*"([^"]*)"""".r.findFirstMatchIn(text)
      .getOrElse(throw new IllegalStateException(s"bad _exprmeta.json: $text")).group(1)
    val ids = """"idCols":\s*\[([^\]]*)\]""".r.findFirstMatchIn(text)
      .getOrElse(throw new IllegalStateException(s"bad _exprmeta.json: $text")).group(1)
      .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).filter(_.nonEmpty).toSeq
    GenMeta(name, new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"), ids)
  }
}
