package graft

import graft.ops.{Dedup, Similarity, TextOps, Queries}
import org.apache.spark.sql.functions._

/** Behavior tests for the pipeline operators: dedup finds planted
  * near-dups, ANN search agrees with brute force, text metrics are
  * sane, and the query layer runs at sf0.001 (the DuckDB value-match
  * happens in the driver harness / tools/oracle_check.py).
  */
class OpsSpec extends SparkTestBase {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // --------------------------------------------------------------- dedup

  private lazy val nearDupDocs = {
    val base = (0L until 40L).map { i =>
      val body = graft.corpus.Corpus.content(i * 31 + 5, "py")
        .split("\n").take(40).mkString(" ")
      (i, s"document $i about ${i % 5}: $body")
    }
    // plant near-dups: 100..103 are tiny edits of 0..3; 200 is an exact dup of 7
    val dups = (0L until 4L).map(i => (100L + i, base(i.toInt)._2 + " extra trailing words here")) :+
      (200L, base(7)._2)
    (base ++ dups).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts") {
    val res = Dedup.exact(nearDupDocs, "doc_id", "text").collect()
    assert(res.length == 44) // 45 docs, one exact pair collapses
    val dupGroup = res.filter(_.getLong(2) == 2)
    assert(dupGroup.length == 1 && dupGroup.head.getLong(1) == 7L)
  }

  test("minhash+LSH finds planted near-dups and skips unrelated docs") {
    val pairs = Dedup.minhashDuplicates(nearDupDocs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (i <- 0L until 4L)
      assert(pairs.contains((i, 100L + i)), s"missing planted pair $i <-> ${100 + i}; got $pairs")
    assert(pairs.contains((7L, 200L)))
    // unrelated docs must not collide at this threshold
    val falsePairs = pairs.filterNot { case (a, b) => b == a + 100 || (a, b) == ((7L, 200L)) }
    assert(falsePairs.isEmpty, s"false positives: $falsePairs")
  }

  test("iter_sorted streams rows in order; hash sample is deterministic") {
    import scala.jdk.CollectionConverters._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // reference iter_sorted (ctable.py): ordered streaming iterator —
    // Spark's toLocalIterator fetches partitions lazily in sort order
    val it = docs.orderBy(desc("n_chars"), col("doc_id")).toLocalIterator().asScala
    val streamed = it.take(5).map(_.toString).toSeq
    val expected = docs.orderBy(desc("n_chars"), col("doc_id")).limit(5).collect().map(_.toString).toSeq
    assert(streamed == expected)
    // reference sample(frac): deterministic hash-mod sampling — stable
    // across evaluations and partitionings (unlike rand()-based sample)
    val sample = docs.filter(pmod(xxhash64(col("doc_id")), lit(10)) === 0)
    val ids1 = sample.collect().map(_.getLong(0)).toSet
    val ids2 = sample.repartition(7).collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2 && ids1.nonEmpty)
    val frac = ids1.size.toDouble / docs.count()
    assert(frac > 0.02 && frac < 0.25, s"~10% expected, got $frac")
  }

  test("degenerate bucket (10k identical docs) emits O(n) pairs, not n^2") {
    import spark.implicits._
    // 10k identical docs all hash to ONE bucket per band: the naive
    // self-join would build ~5*10^7 pairs per band; the representative
    // star must emit exactly n-1 pairs total
    val n = 10000
    val clones = (0 until n).map(i => (i.toLong, "the same boilerplate license text repeated in every file of the corpus"))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = Dedup.minhashDuplicates(clones, "doc_id", "text", threshold = 0.9)
    val cnt = pairs.count()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(cnt == n - 1, s"representative star must link every clone to the min id once, got $cnt")
    // all pairs anchored at the representative (min id)
    assert(pairs.filter(col("id_a") =!= 0L).count() == 0)
    assert(secs < 120, s"degenerate bucket must not go quadratic (took $secs s)")
    // planted-pair recall is unchanged by the cap (buckets below the cap
    // use the exact self-join) — asserted by the planted-pair test above
  }

  test("simhash hamming distance separates dups from unrelated docs") {
    val pairs = Dedup.simhashDuplicates(nearDupDocs, "doc_id", "text", maxDist = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 200L)), s"exact dup must have distance 0; got $pairs")
  }

  test("ngram jaccard verification scores planted pairs high") {
    val verified = Dedup.ngramJaccardPairs(nearDupDocs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(verified.getOrElse((7L, 200L), 0.0) == 1.0)
    for (i <- 0L until 4L)
      assert(verified.getOrElse((i, 100L + i), 0.0) > 0.8)
  }

  // ---------------------------------------------------------- similarity

  private lazy val embeddings = spark.read.parquet(s"$sf/embeddings.parquet")

  test("brute-force cosine top-k: self-similarity is 1.0 and first") {
    val q = embeddings.filter($"vec_id" === 3).select("embedding").head().getSeq[Float](0).toArray
    val top = Similarity.bruteForceTopK(embeddings, "vec_id", "embedding", q, 5).collect()
    assert(top.head.getLong(0) == 3L)
    assert(math.abs(top.head.getDouble(1) - 1.0) < 1e-9)
    val scores = top.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse))
  }

  test("LSH top-k finds planted near-neighbors (clustered data)") {
    // sign-LSH recall on uniformly random vectors equals the scanned
    // fraction by construction, so the meaningful test plants real
    // neighbors: 5 small perturbations of the query among 500 noise vecs.
    val dim = 32
    def vec(seed: Long): Array[Float] = Array.tabulate(dim) { i =>
      ((graft.corpus.Corpus.mix(seed * 131 + i) >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
    }
    val q = vec(999L)
    val noise = (0L until 500L).map(i => (i, vec(i).toSeq))
    val planted = (1000L until 1005L).map { i =>
      val p = vec(7000L + i)
      (i, q.zip(p).map { case (a, b) => a + 0.1f * b }.toSeq)
    }
    val df = (noise ++ planted).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val brute = Similarity.bruteForceTopK(df, "vec_id", "embedding", q, 5)
      .collect().map(_.getLong(0)).toSet
    assert(brute == (1000L until 1005L).toSet, s"brute force must rank planted first: $brute")
    val ann = Similarity.lshTopK(df, "vec_id", "embedding", q, 5, nPlanes = 8)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.8, s"LSH recall on planted neighbors: $recall (ann=$ann)")
  }

  test("near-dup pairs: rare path matches dense and shuffles fewer bytes; auto picks rare") {
    // sparse regime: 1024 buckets over 800 vectors → candidate pairs
    // well under the probe fan-out, so auto must choose 'rare'
    val dim = 96
    def vec(seed: Long): Array[Float] = Array.tabulate(dim) { i =>
      ((graft.corpus.Corpus.mix(seed * 131 + i) >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
    }
    val noise = (0L until 800L).map(i => (i, vec(i).toSeq))
    val planted = (0L until 5L).map { i =>
      val b = vec(i)
      (10000L + i, b.zip(vec(7000L + i)).map { case (a, p) => a + 0.05f * p }.toSeq)
    }
    val df = (noise ++ planted).toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val ps = Similarity.axisPlanes(10, dim)

    def shuffleWritten(body: => Unit): Long = {
      val acc = new java.util.concurrent.atomic.AtomicLong
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = t.taskMetrics
          if (m != null) { acc.addAndGet(m.shuffleWriteMetrics.bytesWritten); () }
        }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        org.apache.spark.sql.graftshim.TestListenerShim.waitUntilEmpty(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      acc.get()
    }
    // pin sort-merge joins: at toy scale every side broadcasts and both
    // paths would shuffle ~0 bytes, hiding the contrast under test
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val priorAqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def run(mode: String): (Set[(Long, Long)], Long) = {
        var rows: Array[org.apache.spark.sql.Row] = null
        val bytes = shuffleWritten {
          rows = Similarity.nearDupPairs(df, "vec_id", "embedding", ps, 0.9, mode).collect()
        }
        (rows.map(r => (r.getLong(0), r.getLong(1))).toSet, bytes)
      }
      val (dense, denseBytes) = run("dense")
      val (rare, rareBytes) = run("rare")
      assert(dense == rare, s"paths disagree: dense=$dense rare=$rare")
      assert(dense == (0L until 5L).map(i => (i, 10000L + i)).toSet,
        s"planted near-dup pairs not recovered: $dense")
      assert(rareBytes < (denseBytes * 0.8).toLong,
        s"rare path must shuffle fewer bytes: rare=$rareBytes dense=$denseBytes")
      val (_, _) = run("auto")
      assert(Similarity.lastNearDupMode == "rare",
        s"auto must pick rare in the sparse regime, got ${Similarity.lastNearDupMode}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", priorAqe)
    }
  }

  test("vec_dot NULL semantics: mismatched lengths and null elements yield NULL") {
    import graft.functions.GraftFunctions.vec_dot
    val df = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(1L, Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),
        org.apache.spark.sql.Row(2L, Seq(1.0f, 2.0f), Seq(3.0f)), // length mismatch
        org.apache.spark.sql.Row(3L, Seq(1.0f, null), Seq(3.0f, 4.0f)), // null element
        org.apache.spark.sql.Row(4L, null, Seq(3.0f, 4.0f))), // null vector
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true)),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, true)))))
    val got = df.select($"id", vec_dot($"a", $"b").as("d")).orderBy("id").collect()
    assert(got(0).getDouble(1) == 11.0)
    assert(got(1).isNullAt(1), "length mismatch must be NULL, not a partial sum")
    assert(got(2).isNullAt(1), "null element must poison the dot to NULL")
    assert(got(3).isNullAt(1))
    // double vectors (and float x double) stay supported, as with the
    // cast-to-array<double> formulation the native expression replaced
    val dd = Seq((1L, Seq(1.0, 2.0), Seq(3.0f, 4.0f))).toDF("id", "a", "b")
    assert(dd.select(vec_dot($"a", $"b")).head().getDouble(0) == 11.0)
    assert(Similarity.bruteForceTopK(
      Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", Array(1.0f, 0.0f), 1).head().getLong(0) == 1L)
  }

  test("requireDense fails loudly per violation class; clean columns pass") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("emb", ArrayType(FloatType, true), true)))
    def mk(rows: Row*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    // clean: no throw
    Similarity.requireDense(mk(Row(1L, Seq(1.0f, 2.0f)), Row(2L, Seq(3.0f, 4.0f))), "emb")
    def failsWith(df: org.apache.spark.sql.DataFrame, marker: String): Unit = {
      val e = intercept[IllegalArgumentException](Similarity.requireDense(df, "emb"))
      assert(e.getMessage.contains(marker), s"message '${e.getMessage}' lacks '$marker'")
    }
    failsWith(mk(Row(1L, Seq(1.0f, 2.0f)), Row(2L, null)), "NULL vectors")
    failsWith(mk(Row(1L, Seq(1.0f, null)), Row(2L, Seq(3.0f, 4.0f))), "NULL elements")
    failsWith(mk(Row(1L, Seq(1.0f, Float.NaN)), Row(2L, Seq(3.0f, 4.0f))), "NaN/Inf")
    failsWith(mk(Row(1L, Seq(1.0f, 2.0f)), Row(2L, Seq(3.0f))), "dimension mismatches")
    // explicit dim overrides the first-vector probe
    val e = intercept[IllegalArgumentException](
      Similarity.requireDense(mk(Row(1L, Seq(1.0f, 2.0f))), "emb", dim = 3))
    assert(e.getMessage.contains("dimension mismatches"))
  }

  test("LSH buckets are deterministic and bounded") {
    val b1 = Similarity.lshBuckets(embeddings, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val b2 = Similarity.lshBuckets(embeddings, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(b1 == b2)
    assert(b1.values.forall(b => b >= 0 && b < (1L << 12)))
  }

  // ---------------------------------------------------------------- text

  test("text metrics: tokens, quality, fingerprint, langid") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and that is fine"),
      (2L, "der hund und die katze ist das haus und der baum"),
      (3L, "!!! ??? ... ,,, ;;; :::")
    ).toDF("doc_id", "text")
    val m = df.select($"doc_id",
      TextOps.tokenCount($"text").as("toks"),
      TextOps.qualityScore($"text").as("q"),
      TextOps.fingerprint($"text").as("fp"),
      TextOps.langId($"text").as("lang")).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(m(1L).getInt(1) == 13)
    assert(m(1L).getString(4) == "en")
    assert(m(2L).getString(4) == "de")
    assert(m(1L).getDouble(2) > m(3L).getDouble(2), "prose must outscore punctuation soup")
    // fingerprint is whitespace/case-insensitive
    val fp2 = Seq((9L, "THE   quick brown fox jumps over the lazy dog and that is fine"))
      .toDF("doc_id", "text")
      .select(TextOps.fingerprint($"text")).head().getString(0)
    assert(fp2 == m(1L).getString(3))
  }

  // ------------------------------------------------------------- queries

  test("every SparkEntry query runs at sf0.001 with rows > 0") {
    Queries.all.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"query $name returned 0 rows")
    }
  }

  test("prebuildStores fails loudly on a missing input; a retry after the fix succeeds") {
    val dir = java.nio.file.Paths.get(tmpDir("prebuild"))
    def copyIn(name: String): Unit =
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf, name), dir.resolve(name))
    copyIn("documents.parquet")
    // the four embedding-backed builds fail; the first failure propagates
    val e = intercept[java.util.concurrent.ExecutionException](
      Queries.prebuildStores(spark, dir.toString))
    assert(e.getCause.getMessage.contains("embeddings"), e.getCause.getMessage)
    copyIn("embeddings.parquet")
    Queries.prebuildStores(spark, dir.toString)
    val q = SparkEntry.queries("store_point_lookup")
    assert(q(spark, dir.toString).collect().toSeq == q(spark, sf).collect().toSeq)
  }

  test("concurrent prebuildStores calls build each store once; a failed build is not kept") {
    val dir = java.nio.file.Paths.get(tmpDir("prebuild2"))
    def copyIn(name: String): Unit =
      java.nio.file.Files.copy(java.nio.file.Paths.get(sf, name), dir.resolve(name))
    copyIn("documents.parquet")
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try {
      import scala.concurrent.ExecutionContext.Implicits.global
      val go = new java.util.concurrent.CountDownLatch(1)
      val calls = Seq.fill(2)(scala.concurrent.Future {
        go.await(); scala.util.Try(Queries.prebuildStores(spark, dir.toString))
      })
      go.countDown()
      calls.map(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf)).foreach { r =>
        val cause = r.failed.get.getCause
        assert(cause.getMessage.contains("embeddings"), cause.getMessage)
      }
      copyIn("embeddings.parquet")
      Queries.prebuildStores(spark, dir.toString)
    } finally System.setErr(stderr)
    val builds = err.toString.linesIterator.filter(_.startsWith("[build] ")).map(_.split(' ')(1)).toSeq
    assert(builds.sorted == Seq("ann", "annaxis", "doc", "ivf", "ivfseed"), builds)
    val stage = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir").stripSuffix("/") + "/_graft_stage")
    val docDirs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(stage)
      .map(_.getPath.getName).filter(_.startsWith(s"doc-${Integer.toHexString(dir.toString.hashCode)}-"))
    assert(docDirs.length == 1, docDirs.mkString(", "))
    val q = SparkEntry.queries("store_point_lookup")
    assert(q(spark, dir.toString).collect().toSeq == q(spark, sf).collect().toSeq)
  }

  test("entry() returns the roundtrip proof with rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle keys are a subset of query keys and share column names") {
    assert(Queries.oracle.keySet.subsetOf(Queries.all.keySet))
    assert(Queries.all.size == 78 && Queries.oracle.size == 71)
    assert(Queries.all.keySet -- Queries.oracle.keySet == Set("corpus_codec_plans", "dedup_minhash",
      "dedup_ngram", "dedup_simhash", "sim_ann_store_topk", "sim_ivf_store_topk", "sim_lsh_buckets"))
    assert(Queries.harness == Set("dedup_minhash_recall", "dedup_simhash_recall"))
  }

  test("broadcast join plan actually broadcasts the dims") {
    val plan = Queries.q3Join(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("topk plans as TakeOrderedAndProject (no global sort)") {
    val plan = Queries.q4TopK(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("csv interop: write + read back preserves the documents table") {
    val dir = tmpDir("csv") + "/docs"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.write.option("header", "true").option("quoteAll", "true")
      .option("escape", "\"").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(docs.schema).option("escape", "\"").csv(dir)
    assert(back.count() == docs.count())
    val h = (d: org.apache.spark.sql.DataFrame) =>
      d.select(sum(crc32(concat_ws("|", col("doc_id"), col("lang"), sha2(col("text"), 256)))))
        .head().getLong(0)
    assert(h(back) == h(docs))
  }

  test("covariance/correlation summary (reference describe/cov analog)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val c = li.select(corr("l_quantity", "l_extendedprice")).head().getDouble(0)
    assert(c > -1.0 && c < 1.0 && !c.isNaN)
    val cov = li.select(covar_samp("l_quantity", "l_extendedprice")).head().getDouble(0)
    assert(!cov.isNaN)
  }

  test("filter+project pushes down to the parquet scan") {
    val plan = Queries.q2Filter(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") && plan.contains("LessThan"), plan.take(3000))
  }
}
