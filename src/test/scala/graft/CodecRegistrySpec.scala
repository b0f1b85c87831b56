package graft

import graft.codecs._
import graft.core.Bytes
import org.scalatest.funsuite.AnyFunSuite

/** User-pluggable codec registration (the reference's register_codec /
  * register_filter extension point).
  */
class CodecRegistrySpec extends AnyFunSuite {

  import CodecRegistrySpec.{marked, marker}

  /** Toy plugin: XOR every byte with 0x5A (a "filter" ahead of the
    * entropy stage — lossless, order-preserving for the test).
    */
  private object XorKernel extends CodecRegistry.BinKernel {
    val name = "xor5a"
    override def offer(vec: BinVec): Boolean = marked(vec)
    def encode(vec: BinVec, w: Bytes.Writer): Unit = {
      var i = 0
      while (i < vec.n) {
        val v = if (vec.values(i) == null) Array.emptyByteArray else vec.values(i)
        w.putVarInt(v.length)
        var j = 0
        while (j < v.length) { w.putByte((v(j) ^ 0x5a) & 0xff); j += 1 }
        i += 1
      }
    }
    def decode(r: Bytes.Reader, n: Int, validity: Array[Boolean]): Array[Array[Byte]] = {
      val out = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val len = r.getVarInt()
        val v = new Array[Byte](len)
        var j = 0
        while (j < len) { v(j) = (r.getByte() ^ 0x5a).toByte; j += 1 }
        out(i) = v
        i += 1
      }
      out
    }
  }

  private val ID: Byte = 40

  test("registered plugin roundtrips through ChunkCodec with entropy on top") {
    CodecRegistry.registerBin(ID, XorKernel)
    val vec = BinVec(Array.tabulate(500)(i => s"value-$i-${"x" * (i % 30)}".getBytes("UTF-8")))
    for (plan <- XorKernel.plans(ID)) {
      val block = ChunkCodec.encode(vec, plan)
      val back = ChunkCodec.decode(block).asInstanceOf[BinVec]
      assert(back.n == vec.n)
      (0 until vec.n).foreach(i => assert(java.util.Arrays.equals(back.values(i), vec.values(i))))
    }
    assert(Method.name(ID) == "xor5a")
  }

  test("selector offers registered plans alongside built-ins") {
    CodecRegistry.registerBin(ID, XorKernel)
    val vec = BinVec(Array.tabulate(300)(i => s"$marker doc $i contents with words $i".getBytes("UTF-8")))
    val cands = graft.encode.Selector.candidatesFor(vec)
    assert(cands.exists(_.method == ID), s"plugin plans missing from $cands")
    // and the chosen plan (whatever wins the cost model) still roundtrips
    val plan = graft.encode.Selector.choose(vec)
    val back = ChunkCodec.decode(ChunkCodec.encode(vec, plan)).asInstanceOf[BinVec]
    (0 until vec.n).foreach(i => assert(java.util.Arrays.equals(back.values(i), vec.values(i))))
  }

  test("selector trials demote a failing plugin but never swallow a fatal error") {
    def throwing(err: () => Throwable): CodecRegistry.BinKernel = new CodecRegistry.BinKernel {
      val name = "throws"
      def encode(vec: BinVec, w: Bytes.Writer): Unit = throw err()
      def decode(r: Bytes.Reader, n: Int, validity: Array[Boolean]): Array[Array[Byte]] =
        throw new UnsupportedOperationException
      override def offer(vec: BinVec): Boolean = marked(vec)
    }
    val vec = BinVec(Array.tabulate(300)(i => s"$marker doc $i contents with words $i".getBytes("UTF-8")))
    CodecRegistry.registerBin(42, throwing(() => new IllegalStateException("broken plugin")))
    assert(graft.encode.Selector.candidatesFor(vec).exists(_.method == 42))
    val plan = graft.encode.Selector.choose(vec)
    assert(plan.method != 42, plan.label)
    val back = ChunkCodec.decode(ChunkCodec.encode(vec, plan)).asInstanceOf[BinVec]
    (0 until vec.n).foreach(i => assert(java.util.Arrays.equals(back.values(i), vec.values(i))))
    // a killed task's interrupt must reach the task, not demote a plan
    CodecRegistry.registerBin(43, throwing(() => new InterruptedException("task killed")))
    intercept[InterruptedException](graft.encode.Selector.choose(vec))
  }

  test("plugin id range is enforced and unregistered decode fails loudly") {
    intercept[IllegalArgumentException] {
      CodecRegistry.registerBin(10, XorKernel) // built-in range
    }
    val err = intercept[IllegalArgumentException] {
      CodecRegistry.binKernelOrThrow(55)
    }
    assert(err.getMessage.contains("no codec is registered"))
  }
}

object CodecRegistrySpec {

  /** Chunks led by this value are the only ones the plugins here are
    * offered on: the registry is JVM-wide, and a plugin offered on
    * every chunk would change other suites' selections (and the codec
    * byte pins) once this suite has run.
    */
  val marker = "codec-registry-probe"

  def marked(vec: BinVec): Boolean =
    vec.n > 0 && vec.values(0) != null && new String(vec.values(0), "UTF-8").startsWith(marker)
}
