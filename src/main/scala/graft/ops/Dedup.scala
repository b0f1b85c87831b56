package graft.ops

import graft.corpus.Corpus.mix
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash group-by), MinHash+LSH, SimHash, and n-gram Jaccard
  * verification.
  *
  * Scale design: signatures (minhash/simhash) are pure per-row
  * functions computed in a shuffle-free map — at 10^12 documents the
  * only shuffles are (a) the LSH band bucket join, whose fan-out is
  * `bands` rows per doc, and (b) the final candidate-pair join, which
  * touches only colliding docs. No global state, no driver collection.
  * (Public technique: Broder 1997 minhash; Charikar 2002 simhash;
  * Leskovec et al., "Mining of Massive Datasets" ch.3 for banding.)
  */
object Dedup {

  /** Exact content dedup: group rows by sha256 of the text, keep the
    * smallest id per group. Pure Spark hash aggregate (partial+final).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  // ------------------------------------------------------------ tokens

  /** Deterministic 64-bit string hash (splitmix64 over chars), seedable. */
  def tokenHash(s: String, from: Int, until: Int, seed: Long): Long = {
    var h = mix(seed ^ 0x51_7c_c1_b7_27_22_0a95L)
    var i = from
    while (i < until) { h = mix(h ^ s.charAt(i).toLong); i += 1 }
    h
  }

  def words(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Word-shingle hashes of a document (distinct). */
  def shingleHashes(text: String, shingle: Int): Array[Long] = {
    val ws = words(text)
    if (ws.length < shingle) {
      if (ws.isEmpty) Array.empty[Long]
      else Array(tokenHash(ws.mkString(" "), 0, ws.mkString(" ").length, 0L))
    } else {
      val out = new Array[Long](ws.length - shingle + 1)
      var i = 0
      while (i + shingle <= ws.length) {
        val s = ws.slice(i, i + shingle).mkString(" ")
        out(i) = tokenHash(s, 0, s.length, 0L)
        i += 1
      }
      out.distinct
    }
  }

  /** Distinct word k-shingles as STRINGS (the exact-measure domain the
    * quality oracles brute-force; [[shingleHashes]] is the hashed
    * engine-side analog). Short docs (< k words) collapse to the single
    * all-words shingle, mirroring the hashed path.
    */
  def wordShingles(text: String, k: Int): Array[String] = {
    val ws = words(text)
    if (ws.length < k) {
      if (ws.isEmpty) Array.empty[String] else Array(ws.mkString(" "))
    } else
      (0 to ws.length - k).map(i => ws.slice(i, i + k).mkString(" ")).distinct.toArray
  }

  /** Jaccard of two SORTED distinct string arrays (two-pointer
    * intersection): |a ∩ b| / |a ∪ b|, and 1.0 when both are empty —
    * the exact word-k-shingle Jaccard of two texts given their
    * [[wordShingles]], sorted.
    */
  private def sortedJaccard(a: Seq[String], b: Seq[String]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0; var j = 0; var common = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { common += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    common.toDouble / (a.length + b.length - common).toDouble
  }

  /** Brute-force ALL-PAIRS exact shingle-Jaccard ≥ threshold →
    * (id_a, id_b). O(n²) nested-loop join: this is the MEASUREMENT
    * HARNESS that ground-truths the LSH paths at oracle scale (≤ a few
    * thousand docs) — never a production operator; the scale paths are
    * [[minhashDuplicates]] / [[simhashDuplicates]].
    */
  def bruteShingleJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                               k: Int, threshold: Double): DataFrame = {
    // spread the nested-loop's STREAM side: a small doc set usually
    // arrives as one file split, which would put every one of the n²/2
    // pair computations on a single core
    val par = df.sparkSession.sparkContext.defaultParallelism
    // tokenize ONCE per doc, not once per pair (a per-pair Set-based
    // Jaccard re-tokenizes each doc n times). Sorted distinct arrays +
    // a two-pointer intersection give the same set sizes, hence the
    // same values, as a Set intersection.
    val shingleU = udf((t: String) => wordShingles(t, k).sorted.toSeq)
    val sh = df.select(col(idCol), shingleU(col(textCol)).as("sh"))
    val a = sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")).repartition(par)
    val b = sh.select(col(idCol).as("id_b"), col("sh").as("sh_b"))
    val jacU = udf((x: Seq[String], y: Seq[String]) => sortedJaccard(x, y))
    a.join(b, col("id_a") < col("id_b"))
      .filter(jacU(col("sh_a"), col("sh_b")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Keep only candidate pairs whose EXACT word-k-shingle Jaccard meets
    * `threshold`: texts are joined back onto the (id_a, id_b) pairs —
    * only colliding docs shuffle — and the exact measure runs per pair.
    * This is the verification stage of the LSH pipelines (precision
    * becomes exact; recall stays the LSH's).
    */
  def verifyPairsShingleJaccard(df: DataFrame, idCol: String, textCol: String,
                                pairs: DataFrame, k: Int, threshold: Double): DataFrame = {
    // tokenize each doc ONCE per join side (docs collide in many
    // candidate pairs, and the per-pair measure re-tokenized both sides
    // for every pair; the old shape already streamed the full text
    // table through both joins, so this adds no scan — it only moves
    // tokenization below the join where it runs once per doc). Sorted
    // distinct arrays + two-pointer intersection give identical set
    // sizes, hence identical Jaccard values — same rewrite as
    // bruteShingleJaccardPairs. `pairs` stays single-use: its upstream
    // is the whole LSH pipeline and must not re-execute.
    val shingleU = udf((t: String) => wordShingles(t, k).sorted.toSeq)
    val sh = df.select(col(idCol), shingleU(col(textCol)).as("sh"))
    val jacU = udf((x: Seq[String], y: Seq[String]) => sortedJaccard(x, y))
    pairs.select("id_a", "id_b")
      .join(sh.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(jacU(col("sh_a"), col("sh_b")) >= threshold)
      .select("id_a", "id_b")
  }

  // ----------------------------------------------------------- minhash

  /** MinHash signature: for seed j, min over shingles of mix(h ^ seed_j).
    * Pure per-row function — no shuffle, no UDF registry, fully
    * deterministic.
    */
  def minhashSignature(text: String, numHashes: Int, shingle: Int): Array[Long] = {
    val hs = shingleHashes(text, shingle)
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      var j = 0
      while (j < numHashes) {
        val v = mix(hs(i) ^ mix(j.toLong * 0x9e37_79b9L + 17))
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  final case class MinSig(id: Long, sig: Array[Long])

  /** (id, sig array) via a shuffle-free typed map. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, shingle: Int = 5): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val tIdx = df.schema.fieldIndex(textCol)
    df.map { r =>
      MinSig(r.getLong(idIdx), minhashSignature(r.getString(tIdx), numHashes, shingle))
    }(Encoders.product[MinSig])
      .toDF(idCol, "sig")
  }

  /** Self-join banded keys into candidate pairs, with a bucket-size cap.
    *
    * The naive band self-join is quadratic in the hottest bucket (1M
    * identical boilerplate files → one bucket → 10^12 pairs on one
    * shuffle key). Buckets larger than `bucketCap` are near-certain
    * dup-cliques, so instead of the m² self-join they get the O(m)
    * *representative star*: every member is paired with the bucket's
    * min-id row only. Clique membership is preserved (transitively via
    * the rep) while the oversized-bucket set itself is tiny by
    * construction — it is broadcast, so the banded stream is never
    * re-shuffled for the cap.
    *
    * APPROXIMATION (documented tradeoff): inside an oversized bucket,
    * a pair whose ONLY colliding band is that bucket and which is
    * near-duplicate to each other but NOT to the representative is no
    * longer emitted — the exact pigeonhole guarantee holds only for
    * buckets under the cap. This is the standard cap semantics for
    * web-scale near-dedup: oversized buckets are dominated by exact
    * boilerplate cliques (run exact dedup first), and `bucketCap` can
    * be raised where the exact guarantee matters more than the
    * worst-case join size.
    *
    * `banded` must have columns (idCol, payload, band, bucket);
    * `measure` is an expression over columns `pay_a` / `pay_b` (the two
    * payloads of a pair) computing the pair score.
    */
  private def bandedPairs(banded: DataFrame, idCol: String, payload: String,
                          measure: org.apache.spark.sql.Column,
                          bucketCap: Int): DataFrame = {
    val oversized = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bsz"), min(col(idCol)).as("rep_id"))
      .filter(col("bsz") > bucketCap)
      .select("band", "bucket", "rep_id")

    val small = banded.join(broadcast(oversized.select("band", "bucket")), Seq("band", "bucket"), "left_anti")
    val l = small.select(col(idCol).as("id_a"), col(payload).as("pay_a"), col("band"), col("bucket"))
    val r = small.select(col(idCol).as("id_b"), col(payload).as("pay_b"), col("band"), col("bucket"))
    val smallPairs = l.join(r, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), measure.as("m"))

    val over = banded.join(broadcast(oversized), Seq("band", "bucket"))
    val repPayloads = over.filter(col(idCol) === col("rep_id"))
      .select(col("band"), col("bucket"), col(payload).as("pay_a"))
      .dropDuplicates("band", "bucket")
    val starPairs = over.filter(col(idCol) =!= col("rep_id"))
      .withColumnRenamed(payload, "pay_b")
      .join(broadcast(repPayloads), Seq("band", "bucket"))
      .select(col("rep_id").as("id_a"), col(idCol).as("id_b"), measure.as("m"))

    smallPairs.union(starPairs).distinct()
  }

  /** LSH banding: explode signatures into (band, bucketHash) keys,
    * self-join on equal buckets → candidate pairs with their estimated
    * jaccard (fraction of equal signature slots). `bands` rows per doc
    * go through the shuffle, never the full text. Buckets above
    * `bucketCap` fall back to the O(m) representative star (see
    * [[bandedPairs]]) so one degenerate bucket can't go quadratic.
    */
  def lshCandidatePairs(sigs: DataFrame, idCol: String,
                        numHashes: Int = 64, bands: Int = 16,
                        bucketCap: Int = 256): DataFrame = {
    val rowsPerBand = numHashes / bands
    val bandsExpr = expr(
      s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b, array_join(slice(sig, b * $rowsPerBand + 1, $rowsPerBand), '_')))")
    val banded = sigs.select(col(idCol), col("sig"), posexplode(bandsExpr).as(Seq("band", "bucket")))
    val estJaccard = expr("aggregate(zip_with(pay_a, pay_b, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)")
      .cast("double") / lit(numHashes.toDouble)
    bandedPairs(banded, idCol, "sig", estJaccard, bucketCap)
      .withColumnRenamed("m", "est_jaccard")
  }

  /** MinHash+LSH near-dup detection end to end. */
  def minhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 64, bands: Int = 16, shingle: Int = 5,
                        threshold: Double = 0.7): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingle)
    lshCandidatePairs(sigs, idCol, numHashes, bands)
      .filter(col("est_jaccard") >= threshold)
  }

  // ----------------------------------------------------------- simhash

  /** 64-bit SimHash over word tokens (Charikar). Pure per-row. */
  def simhash64(text: String): Long = {
    val counts = new scala.collection.mutable.HashMap[String, Int]()
    words(text).foreach(w => counts.update(w, counts.getOrElse(w, 0) + 1))
    val acc = new Array[Int](64)
    counts.foreach { case (w, c) =>
      val h = tokenHash(w, 0, w.length, 0x51a7e5eeL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += c else acc(b) -= c
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= 1L << b; b += 1 }
    out
  }

  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val idIdx = df.schema.fieldIndex(idCol)
    val tIdx = df.schema.fieldIndex(textCol)
    df.map { r => (r.getLong(idIdx), simhash64(r.getString(tIdx))) }(
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .toDF(idCol, "simhash")
  }

  /** Near-dup pairs by simhash hamming distance ≤ maxDist, using
    * pigeonhole banding: the 64 bits split into `maxDist + 1` disjoint
    * bands, so any pair within distance maxDist agrees on ≥1 whole band
    * and collides in its bucket — the join key is a short band, not
    * O(n²). Band width is derived from maxDist (a fixed 4×16-bit split
    * would silently miss pairs for maxDist ≥ 4). Oversized buckets use
    * the representative star (see [[bandedPairs]]).
    */
  def simhashDuplicates(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int = 3, bucketCap: Int = 256): DataFrame = {
    require(maxDist >= 0 && maxDist <= 15,
      s"maxDist must be in [0, 15] (band width 64/(maxDist+1) must stay ≥ 4 bits), got $maxDist")
    val nBands = maxDist + 1
    val w = 64 / nBands
    // band b < nBands-1 covers bits [b*w, (b+1)*w); the last band takes
    // the remainder up to bit 63 (unsigned shift needs no mask).
    val bandExpr = expr(
      s"""transform(sequence(0, ${nBands - 1}), b ->
         |  if(b = ${nBands - 1}, shiftrightunsigned(simhash, ${(nBands - 1) * w}),
         |     shiftright(simhash, b * $w) & ${(1L << w) - 1}L))""".stripMargin)
    val sh = simhashes(df, idCol, textCol)
    val banded = sh.select(col(idCol), col("simhash"), posexplode(bandExpr).as(Seq("band", "bucket")))
    bandedPairs(banded, idCol, "simhash", expr("bit_count(pay_a ^ pay_b)"), bucketCap)
      .withColumnRenamed("m", "hamming")
      .filter(col("hamming") <= maxDist)
  }

  // ------------------------------------------------ n-gram jaccard

  /** Exact character-n-gram Jaccard for a pair of texts (local). */
  def ngramJaccard(a: String, b: String, n: Int): Double = {
    def grams(s: String): Set[String] =
      if (s.length < n) Set(s) else (0 to s.length - n).map(i => s.substring(i, i + n)).toSet
    val (ga, gb) = (grams(a), grams(b))
    if (ga.isEmpty && gb.isEmpty) 1.0
    else ga.intersect(gb).size.toDouble / ga.union(gb).size.toDouble
  }

  /** Verify LSH candidates with exact n-gram Jaccard: join texts back
    * to the candidate pairs (only colliding docs are shuffled), compute
    * the exact measure per pair locally.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val cands = minhashDuplicates(df, idCol, textCol, numHashes, bands, shingle = 3, threshold = 0.3)
    val texts = df.select(col(idCol), col(textCol))
    val withA = cands.join(texts.withColumnRenamed(idCol, "id_a").withColumnRenamed(textCol, "text_a"), "id_a")
    val withB = withA.join(texts.withColumnRenamed(idCol, "id_b").withColumnRenamed(textCol, "text_b"), "id_b")
    val idA = withB.schema.fieldIndex("id_a")
    val idB = withB.schema.fieldIndex("id_b")
    val tA = withB.schema.fieldIndex("text_a")
    val tB = withB.schema.fieldIndex("text_b")
    withB.map { r =>
      (r.getLong(idA), r.getLong(idB), ngramJaccard(r.getString(tA), r.getString(tB), n))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaDouble))
      .toDF("id_a", "id_b", "jaccard")
      .filter(col("jaccard") >= threshold)
  }
}
