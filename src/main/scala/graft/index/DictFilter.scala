package graft.index

import graft.codecs.{BinVec, ChunkCodec}
import graft.encode.{EncodedBlock, MetaIndex, StoreLayout, TableCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.InternalRowShim
import org.apache.spark.sql.types.StructType
import java.nio.charset.StandardCharsets.UTF_8

/** Decode-free dictionary predicates over the encoded store: equality /
  * isin on a string column is answered in the CODE domain for
  * DICT-encoded chunks (compare the ≤few-hundred dictionary entries,
  * then scan bit-packed codes) and by a single compare for CONST
  * chunks — matching rows are then gathered positionally; chunks whose
  * dictionary lacks every target never materialize a single value.
  * Mirrors the reference's dictionary-predicate rewrite
  * (python-blosc2 ctable.py:12953-13029).
  *
  * Chunks under other plans (FSST/PLAIN/BYTEPACK) fall back to decoding
  * ONLY the filter column to find positions, then gather — still never
  * a full-width decode of non-matching rows.
  *
  * IO shape (v2 store layout): the position pass reads ONLY the filter
  * column's bytes (parquet leaf pruning). When the match is selective,
  * the second pass fetches just the matching chunks with pushed chunk
  * keys and gathers the matching positions; when it is not (most chunks
  * match), the probe falls back to one full-width pass — at that
  * selectivity a scan reads the same bytes anyway.
  */
object DictFilter {

  // not private: Catalyst's generated SafeProjection must access it
  final case class PosChunk(shard: Int, partId: Int, chunkId: Long, pos: Array[Int])

  /** Match positions per chunk from the filter column alone. */
  private def positionsOf(b: EncodedBlock, colName: String, targets: Array[Array[Byte]]): Array[Int] = {
    val c = b.cols.find(_.name == colName)
      .getOrElse(throw new IllegalArgumentException(s"no column $colName"))
    ChunkCodec.dictEqualityPositions(c.payload, targets).getOrElse {
      // non-dictionary plan: decode just this one column for positions
      val vec = TableCodec.decodeColumn(c).asInstanceOf[BinVec]
      val out = new scala.collection.mutable.ArrayBuffer[Int]()
      var i = 0
      while (i < vec.n) {
        if (vec.isValid(i) && targets.exists(java.util.Arrays.equals(_, vec.values(i)))) out += i
        i += 1
      }
      out.toArray
    }
  }

  def isinScan(spark: SparkSession, storeDir: String, schema: StructType,
               colName: String, values: Seq[String]): DataFrame = {
    val flat = MetaIndex.flatOf(schema)
    val names = flat.fieldNames
    val dts = flat.fields.map(_.dataType)
    val targets = values.map(_.getBytes(UTF_8)).toArray

    // pass 1: filter-column-only read → match positions per chunk
    implicit val posEnc: org.apache.spark.sql.Encoder[PosChunk] =
      org.apache.spark.sql.Encoders.product[PosChunk]
    val posDs = spark.createDataset(
      StoreLayout.blockRdd(StoreLayout.readBlocks(spark, storeDir, Seq(colName))).flatMap { b =>
        val positions = positionsOf(b, colName, targets)
        if (positions.isEmpty) None else Some(PosChunk(b.shard, b.partId, b.chunkId, positions))
      })
    posDs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // selectivity decision from ONE aggregate row — collecting a row
      // per matching chunk first would be an O(matching chunks) driver
      // materialization at 100 TB scale
      import org.apache.spark.sql.functions.{coalesce, count, lit, size, sum, col => fcol}
      val statsRow = posDs.toDF()
        .agg(count(lit(1)), coalesce(sum(size(fcol("pos"))), lit(0L))).head()
      val nChunks = statsRow.getLong(0)
      val totalPos = statsRow.getLong(1)
      if (nChunks <= StoreLayout.MAX_PUSHDOWN_KEYS && totalPos <= StoreLayout.MAX_GATHER_ROWS) {
        // selective: gather just the matching chunks (pushed keys)
        val byChunk = posDs.collect()
          .map(p => (p.shard, p.partId, p.chunkId) -> p.pos).toMap
        IndexStore.gather(spark, storeDir, schema, byChunk)
      } else {
        // unselective: one full-width pass, positions recomputed inline
        // (reads what a scan would read; still no full-row decode of
        // non-matching rows)
        val blocks = StoreLayout.readBlocks(spark, storeDir, names.toSeq)
        val rdd = StoreLayout.blockRdd(blocks).mapPartitions { it =>
          // reused mutable row — safe: createDataFrame's scan copies per row
          val row = new org.apache.spark.sql.catalyst.expressions.SpecificInternalRow(dts.toIndexedSeq)
          it.flatMap { b =>
            val positions = positionsOf(b, colName, targets)
            if (positions.isEmpty) Iterator.empty
            else TableCodec.rowsOfBlock(b, names, dts, withShard = false, positions = positions, reuseRow = row)
          }
        }
        val df = InternalRowShim.createDataFrame(spark, rdd, flat)
        if (flat eq schema) df else graft.encode.Nested.reassemble(df, schema)
      }
    } finally posDs.unpersist()
  }
}
