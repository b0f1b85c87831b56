package perfbench

import graft.codecs.{ChunkCodec, ColVec, Entropy, Plan}
import graft.encode.{ColBuilder, Selector}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** Single-thread replay of the encode and decode kernels on the driver,
  * over seeded chunks of the workload's own corpus: `ColBuilder` builds
  * the vectors, then `Selector.choose` → `ChunkCodec.encode` →
  * `ChunkCodec.decode`, and `Entropy.compress`/`decompress` run on the
  * payload of an entropy-NONE encode of the chosen method. Every
  * roundtrip is checked bit for bit with `ColBuilder.digestOf`.
  */
object Replay {

  /** Plan labels reported one by one (`+` written as `-`); any other
    * plan is summed under `other`.
    */
  val PLANS: Seq[String] = Seq("dict-zstd", "dict-none", "plain-zstd", "fsst-zstd", "bytepack-none", "bytepack-zstd")
  val ENTROPIES: Seq[(String, Byte)] = Seq("lz4" -> Entropy.LZ4, "zstd" -> Entropy.ZSTD)

  def planName(label: String): String = {
    val n = label.replace('+', '-')
    if (PLANS.contains(n)) n else "other"
  }

  final class Acc { var ns = 0L; var bytes = 0L; def nsPerB: Double = if (bytes == 0) 0.0 else ns.toDouble / bytes }

  final case class Result(metrics: Map[String, Double], roundtrips: Int, mismatches: Int)

  private val REPS = 3

  /** Median wall ns of `REPS` calls of `f`, and its last result. */
  private def timeNs[A](f: => A): (Long, A) = {
    var last: A = null.asInstanceOf[A]
    val ts = (0 until REPS).map { _ =>
      val t0 = System.nanoTime()
      last = f
      System.nanoTime() - t0
    }.sorted
    (ts(REPS / 2), last)
  }

  def run(chunks: Seq[Array[InternalRow]], schema: StructType, tracer: Tracer): Result = {
    val colBuild, select, encode = new Acc
    val encByPlan = mutable.HashMap.empty[String, Acc]
    val decByPlan = mutable.HashMap.empty[String, Acc]
    val entC = mutable.HashMap.empty[String, Acc]
    val entD = mutable.HashMap.empty[String, Acc]
    var roundtrips = 0
    var mismatches = 0
    for (rows <- chunks; (field, ci) <- schema.fields.zipWithIndex) {
      var raw = 0L
      val (tb, vec) = tracer.span("replay.colbuilder") {
        timeNs {
          val b = ColBuilder(field.dataType)
          raw = 0L
          rows.foreach(r => raw += b.add(r, ci))
          b.result()
        }
      }
      colBuild.ns += tb; colBuild.bytes += raw
      val (ts, plan) = tracer.span("replay.selector")(timeNs(Selector.choose(vec)))
      select.ns += ts; select.bytes += raw
      val (te, block) = tracer.span("replay.encode")(timeNs(ChunkCodec.encode(vec, plan)))
      encode.ns += te; encode.bytes += raw
      val pn = planName(plan.label)
      val ea = encByPlan.getOrElseUpdate(pn, new Acc); ea.ns += te; ea.bytes += raw
      val (td, back) = tracer.span("replay.decode")(timeNs(ChunkCodec.decode(block)))
      val da = decByPlan.getOrElseUpdate(pn, new Acc); da.ns += td; da.bytes += raw
      roundtrips += 1
      if (!sameDigest(vec, back)) mismatches += 1
      // entropy stages alone, on the body an entropy-NONE encode emits
      val body = ChunkCodec.encode(vec, Plan(plan.method, Entropy.NONE))
      ENTROPIES.foreach { case (en, e) =>
        val level = if (e == Entropy.ZSTD) Selector.ZSTD_LEVEL else 0
        val (tc, comp) = tracer.span(s"replay.entropy_compress.$en")(timeNs(Entropy.compress(e, level, body)))
        val ca = entC.getOrElseUpdate(en, new Acc); ca.ns += tc; ca.bytes += body.length
        val (tdd, plain) = tracer.span(s"replay.entropy_decompress.$en")(timeNs(Entropy.decompress(e, comp, body.length)))
        val dd = entD.getOrElseUpdate(en, new Acc); dd.ns += tdd; dd.bytes += body.length
        roundtrips += 1
        if (!java.util.Arrays.equals(plain, body)) mismatches += 1
      }
    }
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("encode.colbuilder_ns_per_b") = colBuild.nsPerB
    m("encode.selector_ns_per_b") = select.nsPerB
    m("encode.selector_share") = if (select.ns + encode.ns == 0) 0.0 else select.ns.toDouble / (select.ns + encode.ns)
    (PLANS :+ "other").foreach { p =>
      m(s"codecs.encode_ns_per_b.$p") = encByPlan.get(p).map(_.nsPerB).getOrElse(0.0)
      m(s"codecs.decode_ns_per_b.$p") = decByPlan.get(p).map(_.nsPerB).getOrElse(0.0)
    }
    ENTROPIES.foreach { case (en, _) =>
      m(s"codecs.entropy_compress_ns_per_b.$en") = entC.get(en).map(_.nsPerB).getOrElse(0.0)
      m(s"codecs.entropy_decompress_ns_per_b.$en") = entD.get(en).map(_.nsPerB).getOrElse(0.0)
    }
    Result(m.toMap, roundtrips, mismatches)
  }

  private def sameDigest(a: ColVec, b: ColVec): Boolean =
    a.n == b.n && java.util.Arrays.equals(ColBuilder.digestOf(a), ColBuilder.digestOf(b))
}
