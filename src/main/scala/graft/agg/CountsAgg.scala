package graft.agg

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.unsafe.types.UTF8String

/** The one per-group value → count state of the per-value aggregates
  * ([[KsDriftAgg]], [[RankSumDriftAgg]], [[ChiSquareDriftAgg]],
  * [[VocabDriftAgg]], [[MajorAgg]], [[MisraGriesAgg]]) — the state a
  * batch `groupBy` and a Structured Streaming window both carry.
  *
  * The base owns the buffer, the add-a-key step, `merge`, the optional
  * distinct-key `cap` and the byte layout `[n:int]([key][count:long])*`,
  * whose key the subclass's [[CountsAgg.KeyLayout]] writes: a `double`
  * ([[CountsAgg.DoubleKey]]) or a length-prefixed UTF-8 string
  * ([[CountsAgg.Utf8Key]], [[CountsAgg.StringKey]]). A subclass keeps only
  * its own semantics: which keys a non-null input value counts under
  * (`observe`; by default the value itself) and `eval`. Null inputs are
  * never counted. A new key is detached from the input row once, when it
  * is first inserted; later updates of the key only bump its count. Every
  * NaN counts under one entry (see [[CountsAgg.key]]). */
abstract class CountsAgg[K]
  extends TypedImperativeAggregate[mutable.HashMap[K, Long]]
  with UnaryLike[Expression] {

  /** How a key is written in the serialized state. */
  protected def layout: CountsAgg.KeyLayout[K]

  /** Distinct-key ceiling — the [[graft.util.GridGuard]] ceiling carried
    * into per-window state: past it, `update` and `merge` fail loudly
    * instead of growing the state without bound. None by default. */
  def cap: Long = Long.MaxValue

  /** What the over-cap failure counts and the remedy it names. */
  protected def overCap: String = "keys"

  override def nullable: Boolean = true

  override def createAggregationBuffer(): mutable.HashMap[K, Long] =
    mutable.HashMap.empty

  /** Counts one non-null input value. */
  protected def observe(buf: mutable.HashMap[K, Long], v: Any): Unit =
    add(buf, v.asInstanceOf[K])

  /** Adds one to `k`'s count. */
  protected final def add(buf: mutable.HashMap[K, Long], v: K): Unit = {
    val k = CountsAgg.key(v)
    val c = buf.getOrElse(k, 0L)
    if (c == 0L) {
      buf.update(layout.detach(k), 1L)
      guard(buf)
    } else buf.update(k, c + 1L)
  }

  private def guard(m: mutable.HashMap[K, Long]): Unit =
    require(m.size <= cap, s"$prettyName: over $cap distinct live $overCap")

  override def update(buf: mutable.HashMap[K, Long],
      input: InternalRow): mutable.HashMap[K, Long] = {
    val v = child.eval(input)
    if (v != null) observe(buf, v)
    buf
  }

  override def merge(a: mutable.HashMap[K, Long],
      b: mutable.HashMap[K, Long]): mutable.HashMap[K, Long] = {
    b.foreach { case (k, c) => a.update(k, a.getOrElse(k, 0L) + c) }
    guard(a)
    a
  }

  override def serialize(buf: mutable.HashMap[K, Long]): Array[Byte] =
    layout.encode(buf)

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[K, Long] =
    layout.decode(bytes)
}

object CountsAgg {

  private val NaNKey: java.lang.Double = java.lang.Double.valueOf(Double.NaN)

  /** The map key `k` counts under: every NaN becomes one shared boxed
    * instance. The map compares keys with `==`, under which NaN ≠ NaN, so
    * each fresh NaN would open an entry of its own; `==` on boxed keys
    * tests identity first, so one instance is one entry. Keys enter a
    * state only through `add` and `decode`, which both apply this, so
    * `merge` meets the same instance on both sides. */
  private[agg] def key[K](k: K): K = k match {
    case d: java.lang.Double if d.isNaN => NaNKey.asInstanceOf[K]
    case _ => k
  }

  /** A key's bytes in the serialized state, and how a key read from an
    * input row is detached before the buffer keeps it. */
  sealed abstract class KeyLayout[K] {
    protected def write(out: DataOutputStream, k: K): Unit
    protected def read(in: DataInputStream): K
    def detach(k: K): K = k

    /** `[n:int]([key][count:long])*`, in the map's iteration order. */
    final def encode(m: mutable.HashMap[K, Long]): Array[Byte] =
      frame(m.size) { out =>
        m.foreach { case (k, c) => write(out, k); out.writeLong(c) }
      }

    final def decode(bytes: Array[Byte]): mutable.HashMap[K, Long] = {
      val m = mutable.HashMap.empty[K, Long]
      unframe(bytes) { in => m.update(key(read(in)), in.readLong()) }
      m
    }

    /** `[n:int]([key])*` — a key set with no counts ([[BoundedListAgg]]). */
    final def encodeKeys(n: Int, keys: java.lang.Iterable[K]): Array[Byte] =
      frame(n) { out => keys.forEach(write(out, _)) }

    final def decodeKeys(bytes: Array[Byte])(sink: K => Unit): Unit =
      unframe(bytes) { in => sink(read(in)) }
  }

  private def frame(n: Int)(body: DataOutputStream => Unit): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(n)
    body(out)
    out.flush(); bos.toByteArray
  }

  private def unframe(bytes: Array[Byte])(each: DataInputStream => Unit): Unit = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    var i = in.readInt()
    while (i > 0) { each(in); i -= 1 }
  }

  /** An 8-byte IEEE `double` key. */
  object DoubleKey extends KeyLayout[Double] {
    protected def write(out: DataOutputStream, k: Double): Unit = out.writeDouble(k)
    protected def read(in: DataInputStream): Double = in.readDouble()
  }

  // [len:int][bytes], NOT writeUTF (ADVICE r12): writeUTF throws
  // UTFDataFormatException past 65,535 bytes, and a cap bounds the
  // distinct COUNT, not a key's length — a long free-text value that
  // update accepted must not kill the task when its state is serialized
  private def writeBytes(out: DataOutputStream, b: Array[Byte]): Unit = {
    out.writeInt(b.length); out.write(b)
  }

  private def readBytes(in: DataInputStream): Array[Byte] = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    b
  }

  /** A length-prefixed UTF-8 `UTF8String` key, cloned out of the unsafe
    * row it was read from when it is first kept. */
  object Utf8Key extends KeyLayout[UTF8String] {
    protected def write(out: DataOutputStream, k: UTF8String): Unit =
      writeBytes(out, k.getBytes)
    protected def read(in: DataInputStream): UTF8String =
      UTF8String.fromBytes(readBytes(in))
    override def detach(k: UTF8String): UTF8String = k.clone()
  }

  /** A length-prefixed UTF-8 `String` key — the same bytes as [[Utf8Key]]. */
  object StringKey extends KeyLayout[String] {
    protected def write(out: DataOutputStream, k: String): Unit =
      writeBytes(out, k.getBytes(UTF_8))
    protected def read(in: DataInputStream): String =
      new String(readBytes(in), UTF_8)
  }
}
