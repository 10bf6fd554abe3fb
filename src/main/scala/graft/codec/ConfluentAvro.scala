package graft.codec

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.avro.Schema

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Confluent Schema Registry wire format + Avro codec, as custom Catalyst
  * expressions.
  *
  * The reference decodes/encodes every Kafka message in this framing
  * (magic byte 0x00 + 4-byte big-endian schema id + Avro body — reference
  * src/consumer.js:117-124,130,139 via @kafkajs/confluent-schema-registry).
  * Spark ships no Confluent framing and this build has no spark-avro
  * connector jar, so both layers are implemented here. Schema resolution
  * happens ONCE, at plan time (as the reference does at startup,
  * consumer.js:212-219): the schema JSON is parsed into a [[FlatAvro]]
  * kernel, never a per-row registry call.
  *
  * Supported Avro shape: flat records of string/int/long/float/double/
  * boolean/bytes, with nullable `[null, T]` / `[T, null]` unions — a
  * superset of the reference's 3-field payload (FIXTURES.md §1).
  *
  * The per-message cost of a generic Avro reader is not Avro's binary
  * format, which is a handful of varints and length-prefixed bytes per
  * field, but the machinery around it: a per-thread reader, a header copy,
  * a Utf8 → String → UTF8String transcode per string and, as a
  * `CodegenFallback`, a projection kept out of whole-stage codegen. The
  * kernel reads and writes the frame directly, and the two expressions
  * generate code, so the decode and encode projections compile together
  * with the chain around them.
  */
object ConfluentAvro {

  val MagicByte: Byte = 0x00

  /** Avro schema JSON for the reference's canonical 3-field record. */
  val eventSchemaJson: String =
    """{"type":"record","name":"Event","fields":[
      |{"name":"key","type":"string"},
      |{"name":"value","type":"string"},
      |{"name":"num","type":"int"}]}""".stripMargin

  private[codec] def parseSchema(json: String): Schema =
    new Schema.Parser().parse(json)

  /** The 5-byte Confluent header: magic byte + big-endian schema id. */
  def header(schemaId: Int): Array[Byte] =
    ByteBuffer.allocate(5).put(MagicByte).putInt(schemaId).array()

  /** Strip the 5-byte Confluent header; throws on bad magic byte (the
    * reference's registry client does the same — such rows take the error
    * path, src/consumer.js:142-150).
    */
  case class ConfluentStrip(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      require(bytes.length >= 5 && bytes(0) == MagicByte,
        s"not Confluent wire format (len=${bytes.length})")
      java.util.Arrays.copyOfRange(bytes, 5, bytes.length)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** The 4-byte big-endian schema id from the Confluent header. */
  case class ConfluentSchemaId(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = IntegerType
    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      require(bytes.length >= 5 && bytes(0) == MagicByte, "not Confluent wire format")
      ByteBuffer.wrap(bytes, 1, 4).getInt
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(c)
  }

  /** Confluent frame → decoded struct (schema fixed at plan time).
    *
    * `safe` decodes a malformed frame — bad framing, bad magic byte, a
    * truncated or corrupt Avro body — to null: the per-message decode guard
    * of the reference consumer loop (src/consumer.js:142-150 catches per
    * message, counts messages_error_total, and keeps consuming), without
    * which one poison Kafka message kills the whole streaming query.
    * Otherwise such a frame throws.
    */
  case class ConfluentAvroDecode(child: Expression, schemaJson: String, safe: Boolean)
      extends UnaryExpression {
    @transient private lazy val kernel = FlatAvro(schemaJson)
    // lazy: dataType is read repeatedly during analysis
    @transient override lazy val dataType: DataType = kernel.structType
    override def nullable: Boolean = safe || child.nullable
    override def nullSafeEval(input: Any): Any =
      kernel.decode(input.asInstanceOf[Array[Byte]], strict = !safe)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val k = ctx.addReferenceObj("avroKernel", kernel)
      nullSafeCodeGen(ctx, ev, frame =>
        if (safe) s"${ev.value} = $k.decode($frame, false);\n${ev.isNull} = ${ev.value} == null;"
        else s"${ev.value} = $k.decode($frame, true);")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Struct → Confluent frame (header with `schemaId` + Avro body). Schema
    * fields take their values from the input struct BY NAME: the outgoing
    * schema (e.g. from the registry) may order fields differently from the
    * struct, and positional mapping would silently swap same-typed values.
    */
  case class ConfluentAvroEncode(child: Expression, schemaJson: String, schemaId: Int)
      extends UnaryExpression {
    @transient private lazy val writer =
      FlatAvro(schemaJson).writer(child.dataType.asInstanceOf[StructType], schemaId)
    override def dataType: DataType = BinaryType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case _: StructType =>
        try { writer; TypeCheckResult.TypeCheckSuccess }
        catch { case e: IllegalArgumentException => TypeCheckResult.TypeCheckFailure(e.getMessage) }
      case other => TypeCheckResult.TypeCheckFailure(s"need a struct to encode, got $other")
    }
    override def nullSafeEval(input: Any): Any = writer.encode(input.asInstanceOf[InternalRow])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val w = ctx.addReferenceObj("avroWriter", writer)
      defineCodeGen(ctx, ev, row => s"$w.encode($row)")
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  // ---- Column-level API ----
  // Spark 4 Columns wrap ColumnNodes, not Expressions; the classic
  // bridge converts both ways.
  import org.apache.spark.sql.graft.Bridge.{column => toCol, expression => toExpr}

  /** value bytes in Confluent wire format → decoded struct column. */
  def fromConfluentAvro(value: Column, schemaJson: String): Column =
    toCol(ConfluentAvroDecode(toExpr(value), schemaJson, safe = false))

  /** Like [[fromConfluentAvro]] but null (instead of a query-killing
    * throw) for malformed messages — bad framing, bad magic byte,
    * truncated or corrupt Avro bodies.
    */
  def fromConfluentAvroSafe(value: Column, schemaJson: String): Column =
    toCol(ConfluentAvroDecode(toExpr(value), schemaJson, safe = true))

  /** struct column → Confluent wire format bytes with the given id. */
  def toConfluentAvro(payload: Column, schemaJson: String, schemaId: Int): Column =
    toCol(ConfluentAvroEncode(toExpr(payload), schemaJson, schemaId))

  def confluentSchemaId(value: Column): Column =
    toCol(ConfluentSchemaId(toExpr(value)))
}

/** A flat Avro record schema compiled, once at plan time, into the field
  * layout its Confluent frames are read and written with. Immutable, so
  * one instance is safe to share across the tasks of a plan.
  *
  * Decoding follows Avro's binary decoder (the reference's registry client
  * reads the same bytes): zig-zag varints of at most 5 (int) or 10 (long)
  * bytes, with the bits past the type's width dropped; little-endian
  * floats; a boolean is true only for byte 1; a union's branch index is an
  * int varint; bytes after the last field are ignored. Anything else — a
  * bad index, a negative length, a read past the end — makes the frame
  * malformed.
  *
  * Strings are referenced in place in the frame when they are ASCII.
  * Others go through `new String(bytes, UTF_8)`, which is byte-identical
  * for valid UTF-8 and replaces malformed sequences exactly as Avro's
  * `Utf8.toString` does. Encoding writes a string's own bytes when they
  * are ASCII and its `toString` UTF-8 otherwise, as Avro's writer does.
  */
private[codec] final class FlatAvro private (
    names: Array[String],
    kinds: Array[Int],
    // branch index of `null` in a two-branch union; -1 when not a union
    nullBranch: Array[Int]) extends Serializable {
  import FlatAvro._

  def structType: StructType = StructType(names.indices.map { i =>
    StructField(names(i), sparkTypes(kinds(i)), nullable = nullBranch(i) >= 0)
  })

  /** The record in a Confluent frame; null (or, when `strict`, a throw)
    * for a malformed one.
    */
  def decode(frame: Array[Byte], strict: Boolean): InternalRow = {
    if (frame.length < 5 || frame(0) != ConfluentAvro.MagicByte) {
      if (strict) throw new IllegalArgumentException(
        s"not Confluent wire format (len=${frame.length})")
      return null
    }
    val in = new Cursor(frame, 5)
    val vals = new Array[Any](kinds.length)
    var i = 0
    while (i < kinds.length) {
      val present = nullBranch(i) < 0 || {
        val branch = in.varInt()
        if (branch != 0 && branch != 1) in.fail()
        branch != nullBranch(i)
      }
      if (present) vals(i) = (kinds(i): @annotation.switch) match {
        case Str => in.string()
        case Int32 => in.varInt()
        case Int64 => in.varLong()
        case F32 => java.lang.Float.intBitsToFloat(in.fixed(4).toInt)
        case F64 => java.lang.Double.longBitsToDouble(in.fixed(8))
        case Bool => in.byte() == 1
        case Bin => in.bytes()
      }
      i += 1
    }
    if (in.ok) new GenericInternalRow(vals)
    else if (strict) throw new IllegalArgumentException(
      s"malformed Avro body in Confluent frame (len=${frame.length})")
    else null
  }

  /** A writer of this schema from rows of `input`, framed with `schemaId`. */
  def writer(input: StructType, schemaId: Int): Writer = {
    val src = names.map { name =>
      require(input.fieldNames.contains(name),
        s"outgoing schema field '$name' missing from input struct " +
          s"(${input.fieldNames.mkString(", ")})")
      input.fieldIndex(name)
    }
    val srcTypes = names.indices.map { i =>
      val t = input(src(i)).dataType
      // Avro's writer narrows any Number into a plain numeric field, but a
      // union resolves its branch from the value's own type
      val numeric = Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
      val ok = t == NullType || t == sparkTypes(kinds(i)) ||
        (nullBranch(i) < 0 && numeric.contains(t) && numeric.contains(sparkTypes(kinds(i))))
      require(ok, s"cannot encode input field '${names(i)}' of type ${t.simpleString} " +
        s"as Avro ${avroTypes(kinds(i)).getName}${if (nullBranch(i) >= 0) " union" else ""}")
      t
    }.toArray
    new Writer(ConfluentAvro.header(schemaId), src, srcTypes)
  }

  final class Writer private[FlatAvro] (header: Array[Byte], src: Array[Int],
      srcTypes: Array[DataType]) extends Serializable {

    private val exact = names.indices.map(i => srcTypes(i) == sparkTypes(kinds(i))).toArray

    // another numeric input type narrows as in Avro's writer: Number.xValue
    private def number(row: InternalRow, i: Int): Number =
      row.get(src(i), srcTypes(i)).asInstanceOf[Number]
    private def int32(row: InternalRow, i: Int): Int =
      if (exact(i)) row.getInt(src(i)) else number(row, i).intValue
    private def int64(row: InternalRow, i: Int): Long =
      if (exact(i)) row.getLong(src(i)) else number(row, i).longValue
    private def float32(row: InternalRow, i: Int): Float =
      if (exact(i)) row.getFloat(src(i)) else number(row, i).floatValue
    private def float64(row: InternalRow, i: Int): Double =
      if (exact(i)) row.getDouble(src(i)) else number(row, i).doubleValue

    /** The Confluent frame of `row`: one pass sizes it, one writes it. */
    def encode(row: InternalRow): Array[Byte] = {
      // string and bytes values as written, read once
      val blobs = new Array[AnyRef](kinds.length)
      var size = header.length
      var i = 0
      while (i < kinds.length) {
        if (nullBranch(i) >= 0) size += 1
        if (row.isNullAt(src(i))) {
          if (nullBranch(i) < 0) throw new IllegalArgumentException(
            s"null value for non-nullable Avro field '${names(i)}'")
        } else size += ((kinds(i): @annotation.switch) match {
          case Str =>
            val s = wireString(row.getUTF8String(src(i)))
            blobs(i) = s
            varLongSize(s.numBytes) + s.numBytes
          case Bin =>
            val b = row.getBinary(src(i))
            blobs(i) = b
            varLongSize(b.length) + b.length
          case Int32 => varLongSize(int32(row, i))
          case Int64 => varLongSize(int64(row, i))
          case F32 => 4
          case F64 => 8
          case Bool => 1
        })
        i += 1
      }
      val out = new Array[Byte](size)
      System.arraycopy(header, 0, out, 0, header.length)
      var pos = header.length
      i = 0
      while (i < kinds.length) {
        val isNull = row.isNullAt(src(i))
        if (nullBranch(i) >= 0)
          pos = putVarLong(out, pos, if (isNull) nullBranch(i) else 1 - nullBranch(i))
        if (!isNull) pos = (kinds(i): @annotation.switch) match {
          case Str =>
            val s = blobs(i).asInstanceOf[UTF8String]
            pos = putVarLong(out, pos, s.numBytes)
            s.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
            pos + s.numBytes
          case Bin =>
            val b = blobs(i).asInstanceOf[Array[Byte]]
            pos = putVarLong(out, pos, b.length)
            System.arraycopy(b, 0, out, pos, b.length)
            pos + b.length
          case Int32 => putVarLong(out, pos, int32(row, i))
          case Int64 => putVarLong(out, pos, int64(row, i))
          case F32 => putFixed(out, pos, java.lang.Float.floatToRawIntBits(float32(row, i)), 4)
          case F64 => putFixed(out, pos, java.lang.Double.doubleToRawLongBits(float64(row, i)), 8)
          case Bool => out(pos) = (if (row.getBoolean(src(i))) 1 else 0).toByte; pos + 1
        }
        i += 1
      }
      out
    }
  }
}

private[codec] object FlatAvro {
  // field kinds: indexes into avroTypes and sparkTypes
  private final val Str = 0
  private final val Int32 = 1
  private final val Int64 = 2
  private final val F32 = 3
  private final val F64 = 4
  private final val Bool = 5
  private final val Bin = 6

  private val avroTypes = Array(Schema.Type.STRING, Schema.Type.INT, Schema.Type.LONG,
    Schema.Type.FLOAT, Schema.Type.DOUBLE, Schema.Type.BOOLEAN, Schema.Type.BYTES)
  private val sparkTypes: Array[DataType] = Array(StringType, IntegerType, LongType,
    FloatType, DoubleType, BooleanType, BinaryType)

  def apply(schemaJson: String): FlatAvro = {
    val schema = ConfluentAvro.parseSchema(schemaJson)
    require(schema.getType == Schema.Type.RECORD, s"need a record schema, got $schema")
    val fields = schema.getFields.toArray.map(_.asInstanceOf[Schema.Field])
    val layout = fields.map { f =>
      val s = f.schema()
      val (t, nullBranch) =
        if (s.getType != Schema.Type.UNION) (s.getType, -1)
        else {
          val branches = s.getTypes.toArray.map(_.asInstanceOf[Schema].getType)
          val nb = branches.indexOf(Schema.Type.NULL)
          require(branches.length == 2 && nb >= 0 && branches(1 - nb) != Schema.Type.NULL,
            s"only [null, T] unions supported: $s")
          (branches(1 - nb), nb)
        }
      val kind = avroTypes.indexOf(t)
      require(kind >= 0, s"unsupported avro type $t")
      (kind, nullBranch)
    }
    new FlatAvro(fields.map(_.name()), layout.map(_._1), layout.map(_._2))
  }

  private def isAscii(s: UTF8String): Boolean = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i < s.numBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) < 0) return false
      i += 1
    }
    true
  }

  private def wireString(s: UTF8String): UTF8String =
    if (isAscii(s)) s else UTF8String.fromString(s.toString)

  private def varLongSize(v: Long): Int = {
    var n = (v << 1) ^ (v >> 63)
    var size = 1
    while ((n & ~0x7FL) != 0) { n >>>= 7; size += 1 }
    size
  }

  /** Writes `v` zig-zag varint encoded at `pos`; returns the next position.
    * An int's zig-zag form equals its long's, so ints use this too.
    */
  private def putVarLong(out: Array[Byte], pos0: Int, v: Long): Int = {
    var n = (v << 1) ^ (v >> 63)
    var pos = pos0
    while ((n & ~0x7FL) != 0) { out(pos) = ((n & 0x7F) | 0x80).toByte; n >>>= 7; pos += 1 }
    out(pos) = n.toByte
    pos + 1
  }

  /** Writes the low `width` bytes of `bits` little-endian at `pos`. */
  private def putFixed(out: Array[Byte], pos: Int, bits: Long, width: Int): Int = {
    var i = 0
    while (i < width) { out(pos + i) = (bits >>> (8 * i)).toByte; i += 1 }
    pos + width
  }

  /** Read position in one frame. A failed read marks the frame malformed
    * and moves to the end, so every later read fails too, harmlessly.
    */
  private final class Cursor(buf: Array[Byte], private var pos: Int) {
    var ok = true

    def fail(): Unit = { ok = false; pos = buf.length }

    def byte(): Int =
      if (pos < buf.length) { pos += 1; buf(pos - 1) & 0xFF } else { fail(); 0 }

    def varInt(): Int = {
      var v = 0
      var shift = 0
      while (shift < 35) {
        val b = byte()
        v |= (b & 0x7F) << shift
        if (b < 0x80) return (v >>> 1) ^ -(v & 1)
        shift += 7
      }
      fail(); 0
    }

    def varLong(): Long = {
      var v = 0L
      var shift = 0
      while (shift < 70) {
        val b = byte()
        v |= (b & 0x7FL) << shift
        if (b < 0x80) return (v >>> 1) ^ -(v & 1)
        shift += 7
      }
      fail(); 0L
    }

    /** `width` bytes, little-endian. */
    def fixed(width: Int): Long =
      if (buf.length - pos < width) { fail(); 0L }
      else {
        var bits = 0L
        var i = 0
        while (i < width) { bits |= (buf(pos + i) & 0xFFL) << (8 * i); i += 1 }
        pos += width
        bits
      }

    /** A length prefix, checked against the bytes left. */
    private def length(): Int = {
      val n = varLong()
      if (n < 0 || n > buf.length - pos) { fail(); 0 } else n.toInt
    }

    def string(): UTF8String = {
      val n = length()
      val start = pos
      pos += n
      var i = start
      while (i < pos && buf(i) >= 0) i += 1
      if (i == pos) UTF8String.fromBytes(buf, start, n)
      else UTF8String.fromString(new String(buf, start, n, UTF_8))
    }

    def bytes(): Array[Byte] = {
      val n = length()
      pos += n
      java.util.Arrays.copyOfRange(buf, pos - n, pos)
    }
  }
}
