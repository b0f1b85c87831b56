package graft.index

import graft.codecs.{BinVec, ChunkCodec}
import graft.encode.{EncodedBlock, Snapshots, StoreLayout, TableCodec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
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
  * column's bytes (parquet leaf pruning), as the hit side of one
  * bounded [[StoreLayout.probe]] job, cancelled once the matches pass
  * MAX_GATHER_ROWS. When the match is selective (at most that many
  * rows in at most MAX_PUSHDOWN_KEYS chunks), the second pass fetches
  * just the matching chunks with pushed chunk keys and gathers the
  * matching positions; when it is not, it is one full-width pass — at
  * that selectivity a scan reads the same bytes anyway.
  */
object DictFilter {

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
    val targets = values.map(_.getBytes(UTF_8)).toArray
    // the filter column's match positions are the hit side of one bounded probe
    val matches = StoreLayout.blockRdd(StoreLayout.readBlocks(spark, storeDir, Seq(colName))).flatMap { b =>
      positionsOf(b, colName, targets).iterator.map(p => InternalRow(b.shard, b.partId, b.chunkId, p))
    }
    val hits = StoreLayout.probe(Snapshots.storeDf(spark, storeDir), Nil, Some(matches), needCounts = false).hits
    hits.map(_.byChunk).filter(_.size <= StoreLayout.MAX_PUSHDOWN_KEYS) match {
      // selective: gather just the matching chunks (pushed keys)
      case Some(byChunk) => IndexStore.gather(spark, storeDir, schema, byChunk)
      // unselective: one full-width pass, positions recomputed inline
      // (reads what a scan would read; still no full-row decode of
      // non-matching rows)
      case None =>
        TableCodec.decode(StoreLayout.readBlocks(spark, storeDir, TableCodec.encodedNames(schema)), schema,
          select = positionsOf(_, colName, targets))
    }
  }
}
