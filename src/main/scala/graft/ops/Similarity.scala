package graft.ops

import graft.corpus.Corpus.mix
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — one shuffle-free projection
  * (codegen'd `zip_with`/`aggregate`, no UDF) followed by Spark's
  * TakeOrderedAndProject (per-partition top-k + driver merge of k·P
  * rows, not a global sort).
  *
  * Scale path: sign-LSH (random hyperplanes, Charikar 2002) — each
  * vector gets a bucket id from deterministic pseudo-random planes;
  * queries probe only their own bucket (optionally hamming-1
  * neighbors), so the scan is ~n/2^bits instead of n. At 100 TB the
  * bucketed table is written partitioned by bucket → partition pruning
  * serves the probe.
  *
  * DATA CONTRACT (every operator here, mirroring the reference's
  * NDArray embeddings, which cannot hold nulls): vectors are DENSE
  * (no null elements), FINITE, and share one dimension. The engine
  * paths use the element-unchecked native dot for speed — a null
  * element reads as 0 instead of poisoning the result to NULL, and a
  * NaN component makes bucket bits path-dependent. Validate dirty
  * embedding columns upstream with [[Similarity.requireDense]] (one
  * cheap aggregate pass) before handing them to these operators.
  */
object Similarity {

  /** Enforce the dense-vector contract in one aggregate pass (plus a
    * LIMIT-1 dimension probe when `dim` is omitted): every vector
    * non-null, of dimension `dim`, with no null and no non-finite
    * elements. Fails LOUDLY with counts per violation class — the
    * alternative is the engine paths silently reading a null element
    * as 0. Call once at ingest, not per query.
    */
  def requireDense(df: DataFrame, vecCol: String, dim: Int = -1): Unit = {
    val v = col(vecCol)
    val d = lit(if (dim > 0) dim
      else df.filter(v.isNotNull).select(size(v)).head(1).headOption
        .map(_.getInt(0)).getOrElse(0))
    val bad = df.agg(
      count(when(v.isNull, 1)).as("null_vecs"),
      count(when(v.isNotNull && exists(v, _.isNull), 1)).as("null_elems"),
      count(when(v.isNotNull && exists(v, e => isnan(e) || e === Float.PositiveInfinity ||
        e === Float.NegativeInfinity), 1)).as("nonfinite"),
      count(when(v.isNotNull, 1)).as("n_vecs"),
      count(when(v.isNotNull && size(v) =!= d, 1)).as("dim_mismatch")
    ).head()
    val problems = Seq(
      "NULL vectors" -> bad.getLong(0),
      "vectors with NULL elements" -> bad.getLong(1),
      "vectors with NaN/Inf elements" -> bad.getLong(2),
      "dimension mismatches" -> bad.getLong(4)
    ).filter(_._2 > 0)
    require(problems.isEmpty,
      s"dense-vector contract violated on '$vecCol' (${bad.getLong(3)} vectors): " +
        problems.map { case (k, n) => s"$n $k" }.mkString(", ") +
        " — clean the column (drop or repair) before similarity/dedup operators")
  }

  /** dot(vec, literal query) — native codegen'd expression (one fused
    * loop, ~1-2 ns/element; the zip_with/aggregate HOF formulation this
    * replaced measured ~18 ns/element and dominated every similarity
    * operator's profile).
    */
  def dotLit(vecCol: Column, q: Array[Float]): Column =
    graft.functions.GraftFunctions.vec_dot_dense(vecCol, typedlit(q.toSeq))

  def norm(vecCol: Column): Column =
    sqrt(graft.functions.GraftFunctions.vec_dot_dense(vecCol, vecCol))

  /** dot(a, b) for two vector COLUMNS (native expression, no UDF;
    * dense-vector contract — see bucketCol's contract note).
    */
  def dotCol(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vec_dot_dense(a, b)


  def cosineLit(vecCol: Column, q: Array[Float]): Column = {
    val qn = math.sqrt(q.map(x => x.toDouble * x.toDouble).sum)
    dotLit(vecCol, q) / (norm(vecCol) * lit(qn))
  }

  /** Brute-force cosine top-k against a literal query vector. */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Array[Float], k: Int): DataFrame =
    df.select(col(idCol), cosineLit(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)

  /** Deterministic pseudo-random unit-ish hyperplanes (public trick:
    * splitmix64-seeded components; normalization is irrelevant for the
    * sign test).
    */
  def planes(nPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Float]] =
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { i =>
        val h = mix(seed ^ (p.toLong << 32) ^ i.toLong)
        // map to (-1, 1)
        ((h >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
      }
    }

  /** Axis-aligned hyperplanes (plane i = basis vector e_i, so bit i is
    * just sign(vec(i))): a degenerate but legitimate sign-LSH family
    * whose bucket function is plain SQL — which lets an independent
    * engine (the DuckDB oracle) recompute bucketing, probe expansion,
    * pruned rerank, and recall end-to-end. The random family stays the
    * production default; this one exists so the ANN machinery has an
    * externally-verifiable instance.
    */
  def axisPlanes(nPlanes: Int, dim: Int): Array[Array[Float]] =
    Array.tabulate(nPlanes)(p => Array.tabulate(dim)(i => if (i == p) 1.0f else 0.0f))

  /** Sign-LSH bucket id column for an embedding column. Axis-aligned
    * planes (basis vector e_j) short-circuit to `element_at(vec, j)`:
    * dot(e_j, v) = v_j exactly (finite vectors), so the fast path is
    * bit-identical to the dot while skipping dim-1 multiplications.
    *
    * Contract (all LSH paths, incl. the driver-side bucketOf): vectors
    * are FINITE and of the planes' dimension. NaN components or
    * mismatched dimensions have no well-defined bucket and the dot,
    * element and driver paths may disagree on them.
    */
  def bucketCol(vecCol: Column, ps: Array[Array[Float]]): Column =
    ps.zipWithIndex.map { case (p, i) =>
      val nz = p.zipWithIndex.filter(_._1 != 0.0f)
      val d =
        if (nz.length == 1 && nz.head._1 == 1.0f)
          element_at(vecCol, nz.head._2 + 1).cast("double")
        else dotLit(vecCol, p)
      when(d >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** (id, bucket) for the whole table — shuffle-free. */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String,
                 nPlanes: Int = 12, dim: Int = 64, seed: Long = 7L): DataFrame =
    df.select(col(idCol), bucketCol(col(vecCol), planes(nPlanes, dim, seed)).as("bucket"))

  /** Bucket of a driver-side query vector under the same planes. */
  def bucketOf(query: Array[Float], ps: Array[Array[Float]]): Long = {
    var qBucket = 0L
    ps.zipWithIndex.foreach { case (p, i) =>
      val dot = p.zip(query).map { case (a, b) => a.toDouble * b.toDouble }.sum
      if (dot >= 0) qBucket |= 1L << i
    }
    qBucket
  }

  /** Probe set: the query's bucket plus its hamming-1 neighbors. */
  def probeBuckets(query: Array[Float], nPlanes: Int, seed: Long): Array[Long] =
    probeBucketsWith(query, planes(nPlanes, query.length, seed))

  def probeBucketsWith(query: Array[Float], ps: Array[Array[Float]]): Array[Long] = {
    val qBucket = bucketOf(query, ps)
    qBucket +: Array.tabulate(ps.length)(i => qBucket ^ (1L << i))
  }

  /** ANN top-k: probe the query's bucket and its hamming-1 neighbors,
    * brute-force only inside them (in-memory variant — recomputes
    * bucket ids; use the bucketed store for repeated probes).
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Array[Float], k: Int,
              nPlanes: Int = 12, seed: Long = 7L): DataFrame = {
    val ps = planes(nPlanes, query.length, seed)
    val probes = probeBuckets(query, nPlanes, seed)
    df.withColumn("bucket", bucketCol(col(vecCol), ps))
      .filter(col("bucket").isin(probes.map(java.lang.Long.valueOf): _*))
      .select(col(idCol), cosineLit(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** Which path the last nearDupPairs("auto") chose — diagnostics and
    * plan-shape specs only (last-write-wins under concurrency).
    */
  @volatile var lastNearDupMode: String = ""

  /** Exact-cosine near-duplicate pairs (a < b) whose sign-LSH buckets
    * are within hamming distance 1, via probe expansion (each vector
    * probes its bucket + single-bit flips and equi-joins the other
    * side's bucket — never an all-pairs product). Emits
    * (id_a, id_b, cosine rounded to 4) with cosine >= threshold.
    *
    * Two physical shapes with one logical result:
    *  - dense: the exploded probe side CARRIES the embedding, so each
    *    candidate pair materializes both vectors inside one join
    *    (pipelined into the dot product — no further shuffle). Right
    *    when candidate pairs outnumber exploded rows: the nPlanes+1
    *    embedding copies through the probe shuffle are cheaper than
    *    re-joining embeddings onto a larger candidate set.
    *  - rare: only (id, bucket) explodes — narrow rows through the
    *    candidate join — and embeddings are re-joined by id afterwards.
    *    Right when near-dups are RARE at scale (the common 100-TB
    *    dedup regime): the probe shuffle never carries a vector, and
    *    embedding copies are paid per candidate pair, not per probe.
    *  - auto: ONE narrow aggregation builds the bucket histogram; the
    *    exact candidate-pair count (Σ c²/2 within buckets + Σ c·c'
    *    across hamming-1 buckets) against the probe fan-out n·(p+1)
    *    picks the cheaper side.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                   ps: Array[Array[Float]], threshold: Double,
                   mode: String = "auto"): DataFrame = {
    val p = ps.length
    val chosen = mode match {
      case "dense" | "rare" => mode
      // beyond 2^20 buckets the histogram collect is no longer tiny —
      // and with that many buckets occupancy is sparse by construction,
      // which is exactly the rare regime
      case "auto" if p > 20 => "rare"
      case "auto" =>
        // NULL embeddings hash to a null bucket; drop them here so auto
        // fails the same way dense/rare do (rows silently absent from
        // the join) instead of NPE-ing on getLong at the driver
        val counts = df.select(bucketCol(col(vecCol), ps).as("bucket"))
          .filter(col("bucket").isNotNull)
          .groupBy("bucket").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val n = counts.valuesIterator.sum
        var cp = 0.0
        counts.foreach { case (b, c) =>
          cp += c.toDouble * (c - 1).toDouble / 2
          (0 until p).foreach { i =>
            val nb = b ^ (1L << i)
            if (nb > b) counts.get(nb).foreach(c2 => cp += c.toDouble * c2.toDouble)
          }
        }
        if (cp < n.toDouble * (p + 1)) "rare" else "dense"
      case other => throw new IllegalArgumentException(s"nearDupPairs mode '$other'")
    }
    lastNearDupMode = chosen
    val probeArr = (b: Column) =>
      explode(array(b +: ps.indices.map(i => b.bitwiseXOR(lit(1L << i))): _*))
    val cosine = round(dotCol(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 4)

    val pairs =
      if (chosen == "dense") {
        val withB = df.select(col(idCol), col(vecCol),
          bucketCol(col(vecCol), ps).as("bucket"), norm(col(vecCol)).as("nrm"))
        val probes = withB.select(col(idCol).as("id_a"), col(vecCol).as("emb_a"),
          col("nrm").as("nrm_a"), probeArr(col("bucket")).as("probe"))
        val right = withB.select(col(idCol).as("id_b"), col(vecCol).as("emb_b"),
          col("nrm").as("nrm_b"), col("bucket").as("b_b"))
        probes.join(right, col("probe") === col("b_b") && col("id_a") < col("id_b"))
      } else {
        val slim = df.select(col(idCol), bucketCol(col(vecCol), ps).as("bucket"))
        val probes = slim.select(col(idCol).as("id_a"), probeArr(col("bucket")).as("probe"))
        val cand = probes
          .join(slim.select(col(idCol).as("id_b"), col("bucket").as("b_b")),
            col("probe") === col("b_b") && col("id_a") < col("id_b"))
          .select("id_a", "id_b")
        val embA = df.select(col(idCol).as("id_a"), col(vecCol).as("emb_a"),
          norm(col(vecCol)).as("nrm_a"))
        val embB = df.select(col(idCol).as("id_b"), col(vecCol).as("emb_b"),
          norm(col(vecCol)).as("nrm_b"))
        cand.join(embB, Seq("id_b")).join(embA, Seq("id_a"))
      }
    pairs.select(col("id_a"), col("id_b"), cosine.as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Persist the bucketed embedding table PARTITIONED BY bucket: at
    * 100 TB a probe touches nPlanes+1 of the 2^nPlanes partition dirs
    * (directory-level pruning), never the full table. The hyperplane
    * parameters (nPlanes, dim, seed) are persisted beside the data —
    * `dim` is DERIVED from the stored vectors, not trusted from a
    * default, so a probe can never silently hash with planes of the
    * wrong dimensionality.
    */
  def writeBucketedStore(df: DataFrame, idCol: String, vecCol: String, outDir: String,
                         nPlanes: Int = 12, seed: Long = 7L, axis: Boolean = false): Unit = {
    val first = df.select(size(col(vecCol))).limit(1).collect()
    require(first.nonEmpty && !first(0).isNullAt(0),
      s"writeBucketedStore needs at least one non-null $vecCol vector to derive the dimension")
    val dim = first(0).getInt(0)
    val ps = if (axis) axisPlanes(nPlanes, dim) else planes(nPlanes, dim, seed)
    df.select(col(idCol), col(vecCol),
        bucketCol(col(vecCol), ps).as("bucket"))
      // cluster by the partition key first: one file per bucket dir, not
      // (shuffle partitions × buckets) near-empty files
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(outDir)
    graft.encode.QueryCache.invalidate(outDir) // drop cached relations of a rewritten store
    writeAnnMeta(df.sparkSession, outDir, nPlanes, dim, seed, axis)
  }

  final case class AnnMeta(nPlanes: Int, dim: Int, seed: Long, axis: Boolean) {
    def planesOf: Array[Array[Float]] =
      if (axis) axisPlanes(nPlanes, dim) else planes(nPlanes, dim, seed)
  }

  private def annMetaPath(storeDir: String) = s"$storeDir/_ann_meta.json"

  private def writeAnnMeta(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                           nPlanes: Int, dim: Int, seed: Long, axis: Boolean): Unit = {
    val p = new org.apache.hadoop.fs.Path(annMetaPath(storeDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(s"""{"nPlanes":$nPlanes,"dim":$dim,"seed":$seed,"axis":$axis}""".getBytes("UTF-8"))
    out.close()
  }

  def readAnnMeta(spark: org.apache.spark.sql.SparkSession, storeDir: String): AnnMeta = {
    val p = new org.apache.hadoop.fs.Path(annMetaPath(storeDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no _ann_meta.json under $storeDir — not a bucketed ANN store")
    val in = fs.open(p)
    val text = new String(in.readAllBytes(), "UTF-8")
    in.close()
    def field(n: String): String =
      s""""$n":\\s*(-?\\d+)""".r.findFirstMatchIn(text)
        .getOrElse(throw new IllegalStateException(s"bad _ann_meta.json: $text")).group(1)
    val axis = """"axis":\s*(true|false)""".r.findFirstMatchIn(text).exists(_.group(1) == "true")
    AnnMeta(field("nPlanes").toInt, field("dim").toInt, field("seed").toLong, axis)
  }

  /** ANN top-k against the bucketed store: the probe-bucket isin filter
    * lands in the scan's PartitionFilters, so only probe partitions are
    * listed and read (asserted in AnnStoreSpec). Hyperplanes come from
    * the store's persisted metadata — a query of the wrong
    * dimensionality fails loudly instead of probing garbage buckets.
    */
  def lshTopKFromStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                       idCol: String, vecCol: String, query: Array[Float], k: Int): DataFrame = {
    val meta = readAnnMeta(spark, storeDir)
    require(query.length == meta.dim,
      s"query dim ${query.length} != store dim ${meta.dim}")
    val probes = probeBucketsWith(query, meta.planesOf)
    graft.encode.QueryCache.relation(spark, storeDir)(spark.read.parquet(storeDir))
      .filter(col("bucket").isin(probes.map(java.lang.Long.valueOf): _*))
      .select(col(idCol), cosineLit(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }
}
