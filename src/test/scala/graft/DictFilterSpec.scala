package graft

import graft.codecs.BinKernels
import graft.corpus.Corpus
import graft.encode.TableCodec
import graft.index.DictFilter
import org.apache.spark.sql.functions._

/** Decode-free dictionary predicates (the reference's code-domain
  * string-compare rewrite, ctable.py:12953-13029).
  */
class DictFilterSpec extends SparkTestBase {

  // cluster by lang so chunks are lang-pure (CONST) or few-lang (DICT):
  // selective equality then skips whole chunks in the dictionary domain
  private lazy val df = Corpus.generate(spark, 2000, 4).toDF()
    .repartition(4, col("lang")).sortWithinPartitions("lang")
  private lazy val storeDir: String = {
    val dir = tmpDir("dict")
    graft.encode.StoreLayout.write(
      TableCodec.encode(df, chunkRows = 100), df.schema.fieldNames.toSeq, dir)
    dir
  }

  test("dictionary isin equals the full-scan filter") {
    val viaDict = DictFilter.isinScan(spark, storeDir, df.schema, "lang", Seq("c", "rust"))
    val viaScan = df.filter(col("lang").isin("c", "rust"))
    assert(viaDict.count() == viaScan.count())
    val h = (d: org.apache.spark.sql.DataFrame) =>
      d.select(sum(crc32(concat_ws("|", col("repo"), col("path"), col("commit"), col("lang"))))).head().getLong(0)
    assert(h(viaDict) == h(viaScan))
  }

  test("non-matching chunks never materialize values (zero full decodes)") {
    storeDir // force store build before resetting the counter
    BinKernels.fullDecodes.set(0)
    val none = DictFilter.isinScan(spark, storeDir, df.schema, "lang", Seq("no-such-lang"))
    assert(none.count() == 0)
    assert(BinKernels.fullDecodes.get() == 0,
      s"dictionary miss must not decode values, saw ${BinKernels.fullDecodes.get()} full decodes")
  }

  test("matching chunks decode only themselves; filter column stays in code domain") {
    val target = "c"
    val matchingChunks = {
      val blocks = graft.encode.StoreLayout.readBlocks(spark, storeDir, Seq("lang"))
      blocks.rdd.map { b =>
        val c = b.cols.find(_.name == "lang").get
        val vec = TableCodec.decodeColumn(c).asInstanceOf[graft.codecs.BinVec]
        val hit = (0 until vec.n).exists(i => vec.isValid(i) &&
          java.util.Arrays.equals(vec.values(i), target.getBytes("UTF-8")))
        if (hit) 1 else 0
      }.sum().toLong
    }
    val totalChunks = spark.read.parquet(storeDir).count()
    assert(matchingChunks < totalChunks, "corpus must have non-matching chunks for this test")

    BinKernels.fullDecodes.set(0)
    val res = DictFilter.isinScan(spark, storeDir, df.schema, "lang", Seq(target))
    assert(res.count() == df.filter(col("lang") === target).count())
    // the gather decodes the string columns of MATCHING chunks only —
    // a full scan would decode all 5 bin columns of every chunk
    val binColsPerChunk = 5 // repo, path, commit, lang, content
    val maxAllowed = matchingChunks * binColsPerChunk
    val fullScanCost = totalChunks * binColsPerChunk
    assert(BinKernels.fullDecodes.get() <= maxAllowed,
      s"decodes ${BinKernels.fullDecodes.get()} > matching-chunk budget $maxAllowed")
    assert(maxAllowed < fullScanCost, "budget must actually be below a full scan")
  }
}
