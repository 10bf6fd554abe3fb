package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8

/** Seeded generator of Confluent-framed Avro messages in the program's
  * canonical `{key: string, value: string, num: int}` record. It writes the
  * wire format itself (magic byte, 4-byte big-endian schema id, Avro binary
  * body) so the program's codec is graded against an independent encoder.
  *
  * Messages come from a pool of `PoolSize` distinct messages; the message at
  * offset `i` is pool entry `i % PoolSize`, so a backlog of any length needs
  * only the pool in memory and its expected route counts are exact.
  *
  * Route of a message through parseNum(DLQ) → capitalize → add10 → isEven:
  *   - Poison: undecodable framing; the decode guard counts it as an error.
  *   - Dlq: non-numeric value; parseNum fails and routes it to its DLQ.
  *   - Dropped: odd number; isEven filters it.
  *   - Completed: even number; reaches the target topic.
  */
object MessageGen {
  final val Completed: Byte = 0
  final val Dlq: Byte = 1
  final val Dropped: Byte = 2
  final val Poison: Byte = 3

  final val PoolSize = 1 << 18
  final val SchemaId = 1
  // shares of poison, DLQ and filtered messages; the rest complete
  final val PoisonShare = 0.01
  final val DlqShare = 0.05
  final val DroppedShare = 0.30

  /** The pool the benchmark's batch frames read from (local mode only). */
  @volatile var shared: Pool = _

  final case class Fields(key: String, value: String, num: Int)

  final class Pool(val bytes: Array[Array[Byte]], val kinds: Array[Byte],
      val fields: Array[Fields]) {
    private val counts = Array.fill(4)(0L)
    kinds.foreach(k => counts(k) += 1)

    /** Messages per route among offsets [0, n). */
    def expected(n: Long): Array[Long] = {
      val full = n / PoolSize
      val out = counts.map(_ * full)
      var i = 0
      val rem = (n % PoolSize).toInt
      while (i < rem) { out(kinds(i)) += 1; i += 1 }
      out
    }
    def kindAt(offset: Long): Byte = kinds((offset % PoolSize).toInt)
    def at(offset: Long): Array[Byte] = bytes((offset % PoolSize).toInt)
  }

  private def varint(out: ByteArrayOutputStream, v: Long): Unit = {
    var n = (v << 1) ^ (v >> 63) // zigzag
    while ((n & ~0x7FL) != 0) { out.write(((n & 0x7F) | 0x80).toInt); n >>>= 7 }
    out.write(n.toInt)
  }

  private def avroString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(UTF_8)
    varint(out, b.length)
    out.write(b, 0, b.length)
  }

  private def header(out: ByteArrayOutputStream, magic: Int): Unit = {
    out.write(magic)
    out.write(SchemaId >>> 24); out.write(SchemaId >>> 16)
    out.write(SchemaId >>> 8); out.write(SchemaId)
  }

  def encode(f: Fields): Array[Byte] = {
    val out = new ByteArrayOutputStream(48)
    header(out, 0)
    avroString(out, f.key); avroString(out, f.value); varint(out, f.num)
    out.toByteArray
  }

  /** Three kinds of poison, in turn: a wrong magic byte, a message shorter
    * than the header, and an Avro body cut inside the key string.
    */
  private def poison(f: Fields, variant: Int): Array[Byte] = variant match {
    case 0 => val b = encode(f); b(0) = 1; b
    case 1 => Array[Byte](0, 0, 0)
    case _ =>
      val out = new ByteArrayOutputStream(16)
      header(out, 0)
      varint(out, 40)
      out.write("short".getBytes(UTF_8), 0, 5)
      out.toByteArray
  }

  def pool(seed: Long): Pool = {
    val rnd = new java.util.SplittableRandom(seed)
    val bytes = new Array[Array[Byte]](PoolSize)
    val kinds = new Array[Byte](PoolSize)
    val fields = new Array[Fields](PoolSize)
    var i = 0
    while (i < PoolSize) {
      val u = rnd.nextDouble()
      val kind =
        if (u < PoisonShare) Poison
        else if (u < PoisonShare + DlqShare) Dlq
        else if (u < PoisonShare + DlqShare + DroppedShare) Dropped
        else Completed
      val n = rnd.nextInt(1 << 29) * 2 // even
      val value = kind match {
        case Dlq => s"v${rnd.nextInt(1 << 20)}x"
        case Dropped => (n + 1).toString
        case _ => n.toString
      }
      val f = Fields(s"key-$seed-$i", value, rnd.nextInt())
      kinds(i) = kind
      fields(i) = f
      bytes(i) = if (kind == Poison) poison(f, i % 3) else encode(f)
      i += 1
    }
    new Pool(bytes, kinds, fields)
  }
}
