package graft.encode

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-side caches of store read state, keyed by (directory, store
  * version):
  *  - COORDINATES: zone-candidate chunk keys per predicate — the analog
  *    of the reference's compressed result-coordinate cache
  *    (python-blosc2 indexing.py:86-110). A repeated probe with the same
  *    predicate skips the metadata scan entirely. Only candidate sets
  *    small enough for the pushed-keys path are kept
  *    (≤ StoreLayout.MAX_PUSHDOWN_KEYS coordinates, ≈16 bytes each); a
  *    too-large verdict is cached as a NEGATIVE entry (`None`), so
  *    repeated non-selective probes do not re-pay the limit-collect scan
  *    just to re-learn it.
  *  - RELATIONS: analyzed parquet relations (file listing + schema,
  *    never a computed result) of stores, indexes and offsets tables —
  *    the path-read analog of Spark's catalog FileIndex caching. Every
  *    `spark.read.parquet(path)` pays a driver listing plus a footer read
  *    (often a Spark job of its own), and probe pipelines re-open the
  *    same relations several times per query. A DataFrame is bound to
  *    its session: an entry of another or a stopped SparkSession is
  *    evicted, never served.
  *
  * Invalidation is belt-and-braces:
  *  - EXPLICIT: every in-process mutation path (CoW rewrites via
  *    Lineage.dropDerived, resumable encode, index builds) calls
  *    `invalidate` — the authoritative signal for the driver that
  *    performed the mutation;
  *  - VERSIONED: for snapshot-enabled stores the cache key embeds the
  *    COMMITTED `Snapshots` listing version — bumped by every CoW
  *    mutation in any process, so an out-of-process commit can never
  *    serve a stale candidate set, object stores included. Stores that
  *    have never been mutated (no `_snapshots/`) fall back to the max
  *    child mtime (one driver listStatus, no Spark job); the mtime
  *    caveat — object stores with synthetic constant-mtime directory
  *    entries, coarse mtime granularity — applies only to that
  *    fallback, where cross-process writers should call
  *    `invalidate`/`clear` or enable snapshots.
  *
  * Both caches are bounded LRUs (256 coordinate sets, 128 relations):
  * a few MB of driver heap.
  */
object QueryCache {

  /** Cache key: the directory, its store version, and the lookup's own
    * parts (none for a relation).
    */
  final case class Key(dir: String, version: Long, parts: Seq[String])

  private final class Lru[V](max: Int) extends java.util.LinkedHashMap[Key, V](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, V]): Boolean = size() > max
  }

  private val coords = new Lru[Option[Seq[(Int, Int, Long)]]](256)
  private val rels = new Lru[DataFrame](128)

  // coordinate lookups — observability for specs + tuning
  val hits = new java.util.concurrent.atomic.AtomicLong
  val misses = new java.util.concurrent.atomic.AtomicLong

  def version(spark: SparkSession, storeDir: String): Long = {
    // Snapshot-enabled stores have an AUTHORITATIVE version: the
    // committed listing number, bumped by every CoW mutation in ANY
    // process — immune to object stores whose synthetic directory
    // entries keep constant mtimes. The mtime probe below remains only
    // for never-snapshotted directories.
    Snapshots.currentVersion(spark, storeDir) match {
      case Some(v) => return v
      case None =>
    }
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return -1L
    val children = fs.listStatus(p)
    if (children.isEmpty) fs.getFileStatus(p).getModificationTime
    else children.map(_.getModificationTime).max
  }

  def key(spark: SparkSession, dir: String, parts: String*): Key =
    Key(dir, version(spark, dir), parts)

  /** Cached candidate coordinates for `k`, or compute-and-cache —
    * `None` (too large to push) is cached too.
    */
  def coordinates(k: Key)(compute: => Option[Seq[(Int, Int, Long)]]): Option[Seq[(Int, Int, Long)]] = {
    val cached = coords.synchronized(coords.get(k))
    if (cached != null) {
      hits.incrementAndGet()
      return cached
    }
    misses.incrementAndGet()
    val v = compute
    putCoordinates(k, v)
    v
  }

  /** Store coordinates a caller computed itself (a planned probe's own
    * candidate scan) — not a lookup, so neither counter moves.
    */
  def putCoordinates(k: Key, v: Option[Seq[(Int, Int, Long)]]): Unit =
    coords.synchronized { coords.put(k, v); () }

  /** Cached analyzed relation for `path` at its current version, or
    * open-and-cache via `open` (which must read exactly `path`'s
    * current content).
    */
  def relation(spark: SparkSession, path: String)(open: => DataFrame): DataFrame = {
    val k = key(spark, path)
    rels.synchronized {
      val hit = rels.get(k)
      if (hit != null) {
        if ((hit.sparkSession eq spark) && !spark.sparkContext.isStopped) return hit
        rels.remove(k); ()
      }
    }
    val df = open
    rels.synchronized { rels.put(k, df); () }
    df
  }

  private def both: Seq[java.util.Map[Key, _]] = Seq(coords, rels)

  /** Drop every entry (any version) of `dir` itself and of paths under
    * `dir/` (a store's `_index` relations) — never of a
    * sibling that merely shares the name prefix (`dir2`).
    */
  def invalidate(dir: String): Unit = {
    val d = dir.stripSuffix("/")
    both.foreach(m => m.synchronized {
      m.keySet().removeIf(k => k.dir == d || k.dir.startsWith(d + "/")); ()
    })
  }

  def clear(): Unit = both.foreach(m => m.synchronized(m.clear()))
}
