package graft

import graft.catalog.Catalog
import org.apache.spark.sql.functions._

/** Hierarchical catalog of encoded stores: put/get roundtrip, leaf-key
  * rules, traversal, user metadata, subtree delete, read-only mode.
  */
class CatalogSpec extends SparkTestBase {

  import spark.implicits._

  private def freshCatalog(): Catalog =
    new Catalog(spark, tmpDir("cat"))

  private lazy val docs = (0 until 500).map(i => (i.toLong, s"text-$i", (i % 5).toString))
    .toDF("doc_id", "text", "lang")
  private lazy val emb = (0 until 100).map(i => (i.toLong, Array.fill(8)(i * 0.5f)))
    .toDF("vec_id", "embedding")

  test("put/get roundtrip through encoded stores at hierarchical keys") {
    val cat = freshCatalog()
    cat.put("/corpus/docs", docs, idCols = Seq("doc_id"), nShards = 4, nBatches = 1)
    cat.put("corpus/emb", emb, idCols = Seq("vec_id"), nShards = 4, nBatches = 1) // leading '/' implied
    cat.put("/models/v1/weights", emb, idCols = Seq("vec_id"), nShards = 4, nBatches = 1)

    assert(cat.contains("/corpus/docs") && cat.contains("/corpus/emb"))
    val back = cat.get("/corpus/docs")
    assert(back.count() == 500)
    assert(back.orderBy("doc_id").collect().toSeq ==
      docs.orderBy("doc_id").collect().toSeq)
    assert(cat.entry("/corpus/docs").idCols == Seq("doc_id"))
    assert(cat.entry("/corpus/emb").schema.fieldNames.toSeq == Seq("vec_id", "embedding"))
  }

  test("traversal: children, descendants, walk") {
    val cat = freshCatalog()
    cat.put("/corpus/docs", docs, Seq("doc_id"), nShards = 2, nBatches = 1)
    cat.put("/corpus/emb", emb, Seq("vec_id"), nShards = 2, nBatches = 1)
    cat.put("/models/v1/weights", emb, Seq("vec_id"), nShards = 2, nBatches = 1)

    assert(cat.children("/").map(_._1) == Seq("/corpus", "/models"))
    assert(cat.children("/").forall(!_._2)) // interior nodes, not tables
    assert(cat.children("/corpus") == Seq(("/corpus/docs", true), ("/corpus/emb", true)))
    assert(cat.descendants("/") == Seq("/corpus/docs", "/corpus/emb", "/models/v1/weights"))
    val w = cat.walk("/")
    assert(w.head._1 == "/" && w.head._2 == Seq("/corpus", "/models"))
    assert(w.exists { case (d, _, tables) => d == "/corpus" && tables == Seq("/corpus/docs", "/corpus/emb") })
  }

  test("leaf-key rules: no table beneath a table, none on an interior node") {
    val cat = freshCatalog()
    cat.put("/corpus/docs", docs, Seq("doc_id"), nShards = 2, nBatches = 1)
    intercept[IllegalArgumentException] {
      cat.put("/corpus/docs/sub", emb, Seq("vec_id")) // beneath a table
    }
    intercept[IllegalArgumentException] {
      cat.put("/corpus", emb, Seq("vec_id")) // interior node with children
    }
    intercept[IllegalArgumentException](cat.normalize("/bad/_reserved"))
    intercept[IllegalArgumentException](cat.normalize("/bad/a=b"))
    intercept[IllegalArgumentException](cat.normalize("/../escape"))
  }

  test("re-put replaces; user metadata merges; subtree delete") {
    val cat = freshCatalog()
    cat.put("/t", docs, Seq("doc_id"), nShards = 2, nBatches = 1)
    cat.put("/t", docs.filter(col("doc_id") < 100), Seq("doc_id"), nShards = 2, nBatches = 1)
    assert(cat.get("/t").count() == 100)

    cat.setMeta("/t", Map("owner" -> "pipeline", "note" -> "v1"))
    cat.setMeta("/t", Map("note" -> "v2"))
    assert(cat.getMeta("/t") == Map("owner" -> "pipeline", "note" -> "v2"))
    // literal backslash followed by n/t must survive (single-pass unescape)
    cat.setMeta("/t", Map("win" -> "C:\\nightly\\tools", "nl" -> "a\nb"))
    assert(cat.getMeta("/t")("win") == "C:\\nightly\\tools")
    assert(cat.getMeta("/t")("nl") == "a\nb")

    cat.put("/tree/a", docs, Seq("doc_id"), nShards = 2, nBatches = 1)
    cat.put("/tree/b/c", emb, Seq("vec_id"), nShards = 2, nBatches = 1)
    assert(cat.delete("/tree"))
    assert(cat.descendants("/").forall(!_.startsWith("/tree")))
    assert(!cat.contains("/tree/a"))
  }

  test("reapTemp finishes a mid-swap crash instead of deleting the only copies") {
    import org.apache.hadoop.fs.Path
    val cat = freshCatalog()
    val fs = new Path(cat.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def pathOf(n: String) = new Path(cat.root + "/" + n)
    def write(p: Path, s: String): Unit = {
      val o = fs.create(p, true); o.write(s.getBytes("UTF-8")); o.close()
    }

    // A: crash BETWEEN park and promote — complete tmp (entry written)
    // + parked old, table absent. Reap must promote the tmp, not delete
    // both survivors.
    cat.put("/t", docs, Seq("doc_id"), nShards = 2, nBatches = 1) // v1: 500 rows
    cat.put("/scratch", docs.filter(col("doc_id") < 100), Seq("doc_id"),
      nShards = 2, nBatches = 1) // stand-in for the complete v2 tmp: 100 rows
    assert(fs.rename(pathOf("t"), pathOf("_put-old-A")))
    write(new Path(pathOf("_put-old-A"), "_swap-target"), "t")
    assert(fs.rename(pathOf("scratch"), pathOf("_put-tmp-A")))
    write(new Path(pathOf("_put-tmp-A"), "_swap-target"), "t")
    assert(!cat.contains("/t"))
    cat.reapTemp()
    assert(cat.contains("/t"), "complete tmp must be promoted")
    assert(cat.get("/t").count() == 100, "promoted table must be the NEW version")
    assert(!fs.exists(pathOf("_put-old-A")) && !fs.exists(pathOf("_put-tmp-A")))

    // B: crash mid-ENCODE after park (no entry in tmp) — reap must
    // restore the parked old version and drop the torn tmp
    assert(fs.rename(pathOf("t"), pathOf("_put-old-B")))
    write(new Path(pathOf("_put-old-B"), "_swap-target"), "t")
    fs.mkdirs(pathOf("_put-tmp-B"))
    write(new Path(pathOf("_put-tmp-B"), "_swap-target"), "t")
    cat.reapTemp()
    assert(cat.contains("/t") && cat.get("/t").count() == 100,
      "parked old version must be restored when the tmp is incomplete")
    assert(!fs.exists(pathOf("_put-tmp-B")) && !fs.exists(pathOf("_put-old-B")))

    // C: table live → marked debris is plain garbage and is reaped
    fs.mkdirs(pathOf("_put-tmp-C"))
    write(new Path(pathOf("_put-tmp-C"), "_swap-target"), "t")
    assert(cat.reapTemp() >= 1)
    assert(!fs.exists(pathOf("_put-tmp-C")) && cat.get("/t").count() == 100)
  }

  test("read-only catalog refuses writes but serves reads") {
    val cat = freshCatalog()
    cat.put("/t", docs, Seq("doc_id"), nShards = 2, nBatches = 1)
    val ro = new Catalog(spark, cat.root, readOnly = true)
    assert(ro.get("/t").count() == 500)
    intercept[IllegalArgumentException](ro.put("/u", docs, Seq("doc_id")))
    intercept[IllegalArgumentException](ro.delete("/t"))
    intercept[IllegalArgumentException](ro.setMeta("/t", Map("a" -> "b")))
  }
}
