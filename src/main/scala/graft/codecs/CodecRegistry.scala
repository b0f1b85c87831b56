package graft.codecs

import graft.core.Bytes

/** User-pluggable codec registry — the analog of the reference's
  * `register_codec` / `register_filter` user extension points
  * (python-blosc2 __init__.py: user-defined codec/filter ids live in a
  * reserved id range; the library dispatches to registered callables).
  *
  * Method ids [32, 63] are reserved for plugins. A registered kernel is
  * a full encode/decode pair over a binary column chunk — it plays both
  * the "filter" role (a transform ahead of the entropy stage, which
  * ChunkCodec still applies on top) and the "codec" role (the entropy
  * stage can be NONE in the plan). The Selector offers a plugin's plans
  * whenever its `offer` predicate accepts the chunk, competing in the
  * same trial-encode cost model as built-ins.
  *
  * Registration must happen before encode on every JVM (executors
  * included) — register from a static initializer or broadcast-safe
  * object, exactly like the reference requires import-time
  * registration. Decode of a block referencing an unregistered id
  * fails loudly with the id.
  */
object CodecRegistry {

  val USER_ID_MIN: Byte = 32
  val USER_ID_MAX: Byte = 63

  trait BinKernel extends Serializable {
    def name: String
    def encode(vec: BinVec, w: Bytes.Writer): Unit
    def decode(r: Bytes.Reader, n: Int, validity: Array[Boolean]): Array[Array[Byte]]
    /** Should the Selector offer this kernel for the chunk? */
    def offer(vec: BinVec): Boolean = true
    /** Plans to trial when offered (entropy stage on top is allowed). */
    def plans(id: Byte): Seq[Plan] = Seq(Plan(id, Entropy.NONE), Plan(id, Entropy.ZSTD, 3))
    /** Cost-model CPU price, ns per input byte (see Selector.nsPerByte). */
    def nsPerByte: Double = 8.0
  }

  private val bin = new java.util.concurrent.ConcurrentHashMap[Byte, BinKernel]()

  def registerBin(id: Byte, kernel: BinKernel): Unit = {
    require(id >= USER_ID_MIN && id <= USER_ID_MAX, s"plugin ids are [$USER_ID_MIN, $USER_ID_MAX], got $id")
    bin.put(id, kernel)
    ()
  }

  def binKernel(id: Byte): Option[BinKernel] = Option(bin.get(id))

  def binKernelOrThrow(id: Byte): BinKernel =
    binKernel(id).getOrElse(throw new IllegalArgumentException(
      s"method id $id is in the plugin range but no codec is registered " +
        s"(register via CodecRegistry.registerBin on every JVM before decode)"))

  /** All (id, kernel) pairs whose offer() accepts this chunk. */
  def offeredBin(vec: BinVec): Seq[(Byte, BinKernel)] = {
    val out = Seq.newBuilder[(Byte, BinKernel)]
    bin.forEach { (id, k) => if (k.offer(vec)) out += ((id, k)) }
    out.result()
  }

  def isPluginId(id: Byte): Boolean = id >= USER_ID_MIN && id <= USER_ID_MAX
}
