package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate-nearest-neighbor index — the
  * k-means-partitioned sibling of the sign-LSH bucketed store
  * (Similarity.writeBucketedStore). The classic two-level ANN design
  * (IVFADC family, Jégou et al. 2011, minus the PQ refinement: vectors
  * stay exact, so the rerank is exact cosine):
  *
  *   1. TRAIN: Lloyd's k-means over a bounded deterministic sample
  *      learns `c` coarse centroids. Assignment runs distributed
  *      (argmax over c codegen'd dot products per row); the update step
  *      reduces to ≤ c·dim (cell, pos, sum, count) rows — driver
  *      traffic is O(c·dim), never O(rows).
  *   2. BUILD: every vector is assigned to its nearest centroid (by
  *      cosine) and the table is written PARTITIONED BY the cell id.
  *   3. PROBE: a query ranks the c centroids at the driver (c·dim
  *      flops), reads only the nProbe best cells — directory-level
  *      partition pruning, same mechanism the LSH store uses — and
  *      exact-cosine reranks inside them.
  *
  * At 100 TB: training touches only the sample; build is one shuffle by
  * cell; probes read nProbe/c of the data. Raise c so cells stay
  * O(file-size); nProbe trades recall for scan fraction.
  *
  * Tie-breaks are pinned everywhere (lowest cell id wins; lowest vec id
  * in top-k) so the seeded variant is reproducible cross-engine: with
  * iters=0 and the first `c` vectors as centroids the whole pipeline is
  * plain SQL, which is how the DuckDB oracle re-derives assignment,
  * probe choice, pruning and rerank independently (`sim_ivf_topk`).
  */
object Ivf {

  /** Per-row cell assignment: argmax_j dot(v, c_j)/|c_j| — the cosine
    * argmax (the row's own |v| scales every candidate equally). Ties
    * take the LOWEST cell id (array_position returns the first match).
    * The sims array is projected once; c dot products per row, each a
    * codegen'd FloatVecDot.
    */
  def cellCol(vecCol: Column, cents: Array[Array[Float]]): Column = {
    val sims = simCols(vecCol, cents)
    val arr = array(sims: _*)
    (array_position(arr, array_max(arr)) - 1).cast("int")
  }

  private def simCols(vecCol: Column, cents: Array[Array[Float]]): Seq[Column] =
    cents.toSeq.map { cj =>
      val n = math.sqrt(cj.map(x => x.toDouble * x.toDouble).sum)
      require(n > 0, "zero centroid")
      Similarity.dotLit(vecCol, cj) / lit(n)
    }

  /** Centroid ranking for a driver-side query: cell ids of the nProbe
    * nearest centroids by cosine (lowest id on ties).
    */
  def probeCells(query: Array[Float], cents: Array[Array[Float]], nProbe: Int): Array[Int] =
    cents.indices
      .map { j =>
        val cj = cents(j)
        val dot = cj.zip(query).map { case (a, b) => a.toDouble * b.toDouble }.sum
        val n = math.sqrt(cj.map(x => x.toDouble * x.toDouble).sum)
        (j, dot / n)
      }
      .sortBy { case (j, s) => (-s, j) }
      .take(nProbe).map(_._1).toArray

  /** Lloyd's k-means over a deterministic bounded sample.
    *
    * Sample: rows whose xxhash64(id) mod m == 0, with m chosen so the
    * expected sample is <= sampleCap (stable across partitionings,
    * unlike rand()). Init: deterministic farthest-point (k-center
    * greedy) — seed with the smallest-hash row, then c-1 passes each
    * taking the sample row with the LOWEST max-cosine to any chosen
    * centroid (hash then id break ties). Smallest-hash-only init
    * regularly lands two seeds in one tight cluster and Lloyd cannot
    * recover (the split survives every iteration); farthest-point
    * spreads the seeds across the data's modes for c-1 extra
    * sample-scan jobs of <= c dot products per row. Each Lloyd
    * iteration: one distributed assignment pass + one (cell, pos)
    * aggregation of <= c*dim rows — driver traffic stays O(c*dim);
    * empty cells keep their previous centroid.
    */
  def train(df: DataFrame, idCol: String, vecCol: String, c: Int,
            iters: Int, sampleCap: Long = 100000L): Array[Array[Float]] = {
    require(c >= 1 && iters >= 0)
    val n = df.count()
    val m = math.max(1L, n / math.max(1L, sampleCap))
    val sample = (if (m == 1) df else df.filter(pmod(xxhash64(col(idCol)), lit(m)) === 0))
      .select(col(idCol).as("_id"), col(vecCol).as("_v"))
    sample.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val first = sample.orderBy(xxhash64(col("_id")), col("_id")).limit(1)
        .collect().map(_.getSeq[Float](1).toArray)
      require(first.nonEmpty, "empty sample")
      val chosen = scala.collection.mutable.ArrayBuffer(first.head)
      while (chosen.length < c) {
        val maxSim = array_max(array(chosen.toSeq.map(cj =>
          Similarity.cosineLit(col("_v"), cj)): _*))
        val far = sample.orderBy(maxSim.asc, xxhash64(col("_id")), col("_id")).limit(1)
          .collect().map(_.getSeq[Float](1).toArray)
        chosen += far.head
      }
      var cents = chosen.toArray
      require(cents.length == c, s"sample smaller than c=$c (got ${cents.length})")
      val dim = cents.head.length
      for (_ <- 0 until iters) {
        val stats = sample
          .select(cellCol(col("_v"), cents).as("cell"), posexplode(col("_v")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg(sum(col("x").cast("double")).as("sx"), count(lit(1)).as("cnt"))
          .collect() // <= c*dim rows
        val next = cents.map(_.clone())
        stats.groupBy(_.getInt(0)).foreach { case (cell, rows) =>
          val cnt = rows.head.getLong(3).toDouble
          rows.foreach { r => next(cell)(r.getInt(1)) = (r.getDouble(2) / cnt).toFloat }
        }
        cents = next
        require(cents.forall(_.length == dim))
      }
      cents
    } finally { sample.unpersist(); () }
  }

  // ------------------------------------------------------------- store

  final case class IvfMeta(cents: Array[Array[Float]]) {
    def c: Int = cents.length
    def dim: Int = cents.head.length
  }

  private def metaPath(storeDir: String) = s"$storeDir/_ivf_meta.json"

  /** Write the table partitioned by cell id, with the centroids
    * persisted beside the data (the probe side must hash with EXACTLY
    * the build-time centroids — same rule as the LSH store's planes).
    */
  def writeIvfStore(df: DataFrame, idCol: String, vecCol: String, outDir: String,
                    cents: Array[Array[Float]]): Unit = {
    df.select(col(idCol), col(vecCol), cellCol(col(vecCol), cents).as("cell"))
      // one file per cell dir, not (shuffle partitions x cells) shards
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
    graft.encode.QueryCache.invalidate(outDir) // drop cached relations of a rewritten store
    val spark = df.sparkSession
    val p = new org.apache.hadoop.fs.Path(metaPath(outDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val body = cents.map(_.mkString("[", ",", "]")).mkString("""{"cents":[""", ",", "]}")
    val out = fs.create(p, true)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  def readIvfMeta(spark: SparkSession, storeDir: String): IvfMeta = {
    val p = new org.apache.hadoop.fs.Path(metaPath(storeDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"no _ivf_meta.json under $storeDir — not an IVF store")
    val in = fs.open(p)
    val text = new String(in.readAllBytes(), "UTF-8")
    in.close()
    val inner = text.indexOf("[[")
    val end = text.lastIndexOf("]]")
    require(inner >= 0 && end > inner, s"bad _ivf_meta.json: $text")
    val cents = text.substring(inner + 2, end).split("\\],\\[")
      .map(_.split(',').map(java.lang.Float.parseFloat))
    require(cents.nonEmpty && cents.forall(_.length == cents.head.length),
      "ragged centroids in _ivf_meta.json")
    IvfMeta(cents)
  }

  /** Exact-cosine top-k inside the nProbe nearest cells. The cell-isin
    * filter is a PARTITION filter (asserted in IvfSpec): only nProbe of
    * the c cell directories are listed and read.
    */
  def topKFromStore(spark: SparkSession, storeDir: String, idCol: String, vecCol: String,
                    query: Array[Float], k: Int, nProbe: Int): DataFrame = {
    val meta = readIvfMeta(spark, storeDir)
    require(query.length == meta.dim, s"query dim ${query.length} != store dim ${meta.dim}")
    val probes = probeCells(query, meta.cents, math.min(nProbe, meta.c))
    graft.encode.QueryCache.relation(spark, storeDir)(spark.read.parquet(storeDir))
      .filter(col("cell").isin(probes.map(Integer.valueOf): _*))
      .select(col(idCol), Similarity.cosineLit(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** In-memory equivalent of store build+probe (for specs and one-off
    * queries): assign, filter to probe cells, rerank.
    */
  def topK(df: DataFrame, idCol: String, vecCol: String, cents: Array[Array[Float]],
           query: Array[Float], k: Int, nProbe: Int): DataFrame = {
    val probes = probeCells(query, cents, math.min(nProbe, cents.length))
    df.withColumn("cell", cellCol(col(vecCol), cents))
      .filter(col("cell").isin(probes.map(Integer.valueOf): _*))
      .select(col(idCol), Similarity.cosineLit(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }
}
