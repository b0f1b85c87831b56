package graft.encode

import org.apache.spark.sql.{Column, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.types._

/** Conservative zone-map pruning for ARBITRARY `Column` predicates —
  * the index-assisted `where`-before-mutation of the reference
  * (python-blosc2 ctable_indexing.py:1408), lifted to the CoW paths:
  * a selective `deleteWhere`/`updateWhere` must not decode payload
  * bytes of chunks its predicate cannot touch.
  *
  * The predicate is ANALYZED against the table schema (Spark 4's
  * Column wraps unresolved ColumnNodes — `===` is just
  * UnresolvedFunction("="); only the analyzer turns it into typed
  * Catalyst comparisons), then split into AND-conjuncts; each conjunct
  * of the shape `column <op> literal` (op ∈ {=, <=>, <, <=, >, >=,
  * IN}) with a domain-compatible literal becomes a metadata filter
  * over that column's zone keys. Conjuncts that don't match the shape
  * (functions, OR at top level, cross-column compares, type
  * mismatches, NULL probes) are simply IGNORED — ignoring a conjunct
  * can only ADMIT extra chunks, never wrongly prune, because a row
  * satisfying the whole predicate satisfies every conjunct.
  */
object PredicatePrune {

  /** The predicate as a RESOLVED Catalyst expression: analyzed against
    * an empty relation of `schema` (no optimizer — it would collapse
    * the empty relation and lose the condition), with casts of
    * literals folded so comparisons expose plain typed literals.
    */
  def resolve(spark: SparkSession, schema: StructType, predicate: Column): Expression = {
    val dummy = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    val cond = dummy.filter(predicate).queryExecution.analyzed.collectFirst {
      case f: logical.Filter => f.condition
    }.getOrElse(Literal.TrueLiteral)
    cond.transformUp {
      case c: Cast if c.child.isInstanceOf[Literal] => Literal.create(c.eval(null), c.dataType)
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  private def isPlainNumeric(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType | BooleanType => true
    case _ => false
  }

  /** True iff `Cast(from → to)` is value-preserving and
    * order-preserving — exactly the casts the analyzer inserts for
    * implicit numeric widening. Anything lossy (fractional→integral
    * truncation, integral narrowing/wraparound, →boolean, long→double
    * rounding past 2^53, int→float past 2^24) changes which rows
    * compare equal, so unwrapping it could WRONGLY PRUNE a chunk whose
    * rows match only after the cast's rounding.
    */
  private def isWideningCast(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => true
    case (BooleanType, ByteType | ShortType | IntegerType | LongType |
                       FloatType | DoubleType) => true
    case (ByteType, ShortType | IntegerType | LongType | FloatType | DoubleType) => true
    case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true // int→float is lossy past 2^24
    case (FloatType, DoubleType) => true
    case _ => false // long→double/float lossy past 2^53/2^24; all narrowing lossy
  }

  /** The underlying column behind an (optionally numerically-WIDENED)
    * attribute: `cast(int_col as bigint) = 3L` prunes on int_col —
    * sound because the widening is exact and numeric zone compares run
    * in the double domain either way. Narrowing / semantics-changing
    * casts (double→int truncation, long→int wraparound, →boolean,
    * string→int, date→ts) are NOT unwrapped: e.g.
    * `cast(price as int) = 100` matches rows in zone [100.2, 100.9]
    * after truncation, so pruning on the un-cast zone would skip them.
    * The conjunct is then simply ignored — always safe.
    */
  private def stripAttr(e: Expression): Option[String] = e match {
    case a: AttributeReference => Some(a.name)
    case c: Cast =>
      c.child match {
        case a: AttributeReference if isWideningCast(a.dataType, c.dataType) => Some(a.name)
        case _ => None
      }
    case _ => None
  }

  /** The literal in the stored column's zone-key domain, iff the
    * literal's type is domain-compatible (same compare family as the
    * zone keys). Decimals are skipped (scale alignment is not worth
    * the risk — the conjunct is just ignored).
    */
  private def domainValue(l: Literal, colDt: DataType): Option[String] = {
    if (l.value == null) return None
    (colDt, l.dataType) match {
      case (StringType, StringType) => Some(l.value.toString)
      case (TimestampType | TimestampNTZType, TimestampType | TimestampNTZType) =>
        Some(l.value.toString) // catalyst value is epoch micros
      case (DateType, DateType) => Some(l.value.toString) // epoch days
      case (c, v) if isPlainNumeric(c) && isPlainNumeric(v) =>
        v match {
          case BooleanType => Some(if (l.value == true) "1" else "0")
          // float literals must be WIDENED before stringification: zone
          // keys of float columns are the double-widened values
          // ("0.1".toDouble < widen(0.1f)), so the float's short decimal
          // form would compare against the wrong point and wrongly prune
          case FloatType => Some(l.value.asInstanceOf[Float].toDouble.toString)
          case _ => Some(l.value.toString)
        }
      case _ => None
    }
  }

  /** One conjunct → a zone hit over its column's chunk-struct leaves. */
  private def zoneHit(e: Expression, flat: StructType): Option[Column] = {
    def domain(attr: Expression, ls: Seq[Literal]): Option[(String, Seq[String])] =
      for {
        n <- stripAttr(attr)
        field <- flat.fields.find(_.name == n)
        ds = ls.flatMap(domainValue(_, field.dataType))
        // every literal must be extractable: a list only partly covered
        // would prune unsoundly
        if ds.size == ls.size
      } yield (n, ds)
    def mk(attr: Expression, l: Literal)(lo: String => Option[String],
                                         hi: String => Option[String]): Option[Column] =
      domain(attr, Seq(l)).map { case (n, Seq(d)) => MetaIndex.zoneHitOn(n, lo(d), hi(d)) }
    def eq(a: Expression, l: Literal) = mk(a, l)(Some(_), Some(_))
    def atLeast(a: Expression, l: Literal) = mk(a, l)(Some(_), _ => None)
    def atMost(a: Expression, l: Literal) = mk(a, l)(_ => None, Some(_))
    e match {
      case EqualTo(a, l: Literal) => eq(a, l)
      case EqualTo(l: Literal, a) => eq(a, l)
      // null-safe equality with a non-null literal prunes like equality
      // (NULL rows cannot equal a value); a null literal is not
      // extractable (zones don't track null presence)
      case EqualNullSafe(a, l: Literal) => eq(a, l)
      case EqualNullSafe(l: Literal, a) => eq(a, l)
      case GreaterThan(a, l: Literal) => atLeast(a, l)
      case GreaterThanOrEqual(a, l: Literal) => atLeast(a, l)
      case LessThan(l: Literal, a) => atLeast(a, l)
      case LessThanOrEqual(l: Literal, a) => atLeast(a, l)
      case LessThan(a, l: Literal) => atMost(a, l)
      case LessThanOrEqual(a, l: Literal) => atMost(a, l)
      case GreaterThan(l: Literal, a) => atMost(a, l)
      case GreaterThanOrEqual(l: Literal, a) => atMost(a, l)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        domain(a, vs.map(_.asInstanceOf[Literal])).map { case (n, ds) => MetaIndex.zoneHitAny(n, ds) }
      case _ => None
    }
  }

  /** The zone hit of `predicate`: every extractable conjunct's hit
    * ANDed over the chunk-struct leaves (metadata only, no payloads).
    * None when nothing in the predicate is zone-extractable (the caller
    * falls back to a full pass).
    */
  private[graft] def zoneHitOf(spark: SparkSession, schema: StructType, predicate: Column): Option[Column] = {
    val flat = MetaIndex.flatOf(schema)
    conjuncts(resolve(spark, schema, predicate)).flatMap(zoneHit(_, flat)).reduceOption(_ && _)
  }

  /** Top-level column names the predicate references, iff ALL of them
    * are plain top-level fields of `schema` — the discovery pass then
    * decodes only those columns (v2 layout: sibling payloads never
    * read). None → decode the full schema.
    */
  def referencedColumns(spark: SparkSession, schema: StructType,
                        predicate: Column): Option[Seq[String]] = {
    val refs = resolve(spark, schema, predicate).references.toSeq.map(_.name).distinct
    val top = schema.fieldNames.toSet
    if (refs.nonEmpty && refs.forall(top.contains)) Some(refs) else None
  }

  /** Blocks that may contain a predicate-matching row: the chunks its
    * zone hit names when the predicate is zone-extractable (one probe
    * job, then StoreLayout.readChunks: few → pushed chunk keys, many →
    * the store scan filtered by the hit), the whole store otherwise.
    * `names` restricts the columns read.
    */
  def candidateBlocks(spark: SparkSession, storeDir: String, schema: StructType,
                      predicate: Column, names: Seq[String]): Dataset[EncodedBlock] =
    zoneHitOf(spark, schema, predicate) match {
      case None => StoreLayout.readBlocks(spark, storeDir, names)
      case Some(hit) =>
        val keys = StoreLayout.probe(Snapshots.storeDf(spark, storeDir), Seq(hit), needCounts = false).keys.head
        StoreLayout.readChunks(spark, storeDir, keys, names)(_.filter(hit))
    }
}
