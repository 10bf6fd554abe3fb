package graft.codec

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graft.Bridge

/** Minimal Protobuf (proto3) wire-format codec for flat scalar messages —
  * the reference's third serialization format (producer_c registers
  * `SchemaC1 { string key = 1; string value = 2; int32 num = 3; }`,
  * reference performance-testing/producers/producer_c.js:37-47). This
  * build has no spark-protobuf connector jar, so the varint/length-
  * delimited wire format is decoded directly; supported field types cover
  * the reference's full surface (string, bytes, int32/int64 varint,
  * bool, double, float).
  *
  * Field map: tag number → (name, type). Unknown tags are skipped per
  * proto3 rules; absent fields decode to proto3 defaults (empty string /
  * 0 / false) like any proto3 reader.
  */
object ConfluentProto {

  final case class ProtoField(tag: Int, name: String, dataType: DataType)

  /** The reference's SchemaC1. */
  val schemaC1: Seq[ProtoField] = Seq(
    ProtoField(1, "key", StringType),
    ProtoField(2, "value", StringType),
    ProtoField(3, "num", IntegerType))

  private def wireTypeOf(dt: DataType): Int = dt match {
    case IntegerType | LongType | BooleanType => 0 // varint
    case DoubleType => 1                           // 64-bit
    case FloatType => 5                            // 32-bit
    case StringType | BinaryType => 2              // length-delimited
    case other => throw new IllegalArgumentException(s"unsupported proto type $other")
  }

  // ---- wire primitives ----

  private def readVarint(b: Array[Byte], pos: Int): (Long, Int) = {
    // bounded at 10 bytes / 64 bits like canonical proto parsers — an
    // unbounded loop would wrap Scala's Long shift mod 64 on malformed
    // input and decode garbage silently
    var v = 0L; var shift = 0; var p = pos
    while ({
      if (shift >= 64) throw new IllegalArgumentException(
        s"malformed varint at offset $pos: exceeds 10 bytes")
      val x = b(p)
      v |= (x & 0x7FL) << shift
      shift += 7; p += 1
      (x & 0x80) != 0
    }) ()
    (v, p)
  }

  private def writeVarint(out: ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** Decode a bare proto3 body into a struct. */
  case class ProtoDecode(child: Expression, fields: Seq[ProtoField])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType =
      StructType(fields.map(f => StructField(f.name, f.dataType)))
    @transient private lazy val byTag = fields.map(f => f.tag -> f).toMap
    @transient private lazy val index = fields.map(_.name).zipWithIndex.toMap

    override def nullSafeEval(input: Any): Any = {
      val bytes = input.asInstanceOf[Array[Byte]]
      val vals = new Array[Any](fields.length)
      // proto3 defaults for absent fields
      fields.zipWithIndex.foreach { case (f, i) =>
        vals(i) = f.dataType match {
          case StringType => UTF8String.EMPTY_UTF8
          case BinaryType => Array.emptyByteArray
          case IntegerType => 0
          case LongType => 0L
          case BooleanType => false
          case DoubleType => 0.0
          case FloatType => 0.0f
          case _ => null
        }
      }
      var p = 0
      while (p < bytes.length) {
        val (keyV, p1) = readVarint(bytes, p)
        val tag = (keyV >>> 3).toInt
        val wire = (keyV & 7).toInt
        p = p1
        byTag.get(tag) match {
          case Some(f) =>
            val i = index(f.name)
            wire match {
              case 0 =>
                val (v, p2) = readVarint(bytes, p); p = p2
                vals(i) = f.dataType match {
                  case IntegerType => v.toInt
                  case LongType => v
                  case BooleanType => v != 0
                  case _ => v
                }
              case 1 =>
                val bits = java.nio.ByteBuffer.wrap(bytes, p, 8)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
                vals(i) = java.lang.Double.longBitsToDouble(bits); p += 8
              case 5 =>
                val bits = java.nio.ByteBuffer.wrap(bytes, p, 4)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
                vals(i) = java.lang.Float.intBitsToFloat(bits); p += 4
              case 2 =>
                val (len, p2) = readVarint(bytes, p)
                // copyOfRange silently ZERO-PADS past the array end — a
                // truncated message must error onto the poison path, not
                // decode to NUL-padded "valid" data
                require(len >= 0 && p2 + len <= bytes.length,
                  s"truncated length-delimited field: need $len bytes, " +
                    s"have ${bytes.length - p2}")
                val body = java.util.Arrays.copyOfRange(bytes, p2, p2 + len.toInt)
                vals(i) = f.dataType match {
                  case StringType => UTF8String.fromBytes(body)
                  case _ => body
                }
                p = p2 + len.toInt
              case other => throw new IllegalArgumentException(s"bad wire type $other")
            }
          case None => // skip unknown field per proto3
            wire match {
              case 0 => p = readVarint(bytes, p)._2
              case 1 => p += 8
              case 5 => p += 4
              case 2 => val (len, p2) = readVarint(bytes, p); p = p2 + len.toInt
              case other => throw new IllegalArgumentException(s"bad wire type $other")
            }
        }
      }
      // GenericInternalRow wraps the array directly — fromSeq would copy
      // it per row on the throughput hot path
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(vals)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Encode a struct into a bare proto3 body (fields in tag order;
    * proto3 default values are skipped, matching canonical encoders).
    */
  case class ProtoEncode(child: Expression, fields: Seq[ProtoField])
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = BinaryType
    private lazy val inputType = child.dataType.asInstanceOf[StructType]
    // tag order + struct ordinals resolved ONCE — sorting and name lookup
    // per row would allocate on the pipeline throughput hot path
    @transient private lazy val ordered: Array[(ProtoField, Int)] =
      fields.sortBy(_.tag).map(f => (f, inputType.fieldIndex(f.name))).toArray

    override def nullSafeEval(input: Any): Any = {
      val row = input.asInstanceOf[InternalRow]
      val out = new ByteArrayOutputStream()
      ordered.foreach { case (f, i) =>
        if (!row.isNullAt(i)) {
          val keyV = (f.tag.toLong << 3) | wireTypeOf(f.dataType)
          f.dataType match {
            case StringType =>
              val b = row.getUTF8String(i).getBytes
              if (b.nonEmpty) { writeVarint(out, keyV); writeVarint(out, b.length); out.write(b) }
            case BinaryType =>
              val b = row.getBinary(i)
              if (b.nonEmpty) { writeVarint(out, keyV); writeVarint(out, b.length); out.write(b) }
            case IntegerType =>
              val v = row.getInt(i)
              // canonical proto3: negative int32 sign-extends to a 64-bit
              // (10-byte) varint
              if (v != 0) { writeVarint(out, keyV); writeVarint(out, v.toLong) }
            case LongType =>
              val v = row.getLong(i)
              if (v != 0L) { writeVarint(out, keyV); writeVarint(out, v) }
            case BooleanType =>
              if (row.getBoolean(i)) { writeVarint(out, keyV); writeVarint(out, 1L) }
            case DoubleType =>
              val v = row.getDouble(i)
              if (v != 0.0) {
                writeVarint(out, keyV)
                val buf = java.nio.ByteBuffer.allocate(8)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                  .putLong(java.lang.Double.doubleToLongBits(v))
                out.write(buf.array())
              }
            case FloatType =>
              val v = row.getFloat(i)
              if (v != 0.0f) {
                writeVarint(out, keyV)
                val buf = java.nio.ByteBuffer.allocate(4)
                  .order(java.nio.ByteOrder.LITTLE_ENDIAN)
                  .putInt(java.lang.Float.floatToIntBits(v))
                out.write(buf.array())
              }
            case other => throw new IllegalArgumentException(s"unsupported $other")
          }
        }
      }
      out.toByteArray
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  // ---- Column API (Confluent framing shared with the Avro codec) ----

  def decodeProto(value: Column, fields: Seq[ProtoField]): Column =
    Bridge.column(ProtoDecode(Bridge.expression(value), fields))

  def encodeProto(payload: Column, fields: Seq[ProtoField]): Column =
    Bridge.column(ProtoEncode(Bridge.expression(payload), fields))

  /** Confluent-style framing (magic byte + schema id header, same shape
    * the Avro path uses) around a proto3 body.
    *
    * DOCUMENTED DEVIATION, inherited from the reference: Confluent's
    * Java KafkaProtobufSerializer additionally emits a message-indexes
    * varint array between the header and the body; the reference's
    * kafkajs registry client omits it, and this codec stays wire-
    * compatible with the reference (and with itself round-trip), not
    * with Java-client protobuf producers. Interop with those requires
    * skipping the message-index varints after the header.
    */
  def fromConfluentProto(value: Column, fields: Seq[ProtoField]): Column =
    Bridge.column(ProtoDecode(
      Bridge.expression(Bridge.column(
        ConfluentAvro.ConfluentStrip(Bridge.expression(value)))), fields))

  def toConfluentProto(payload: Column, fields: Seq[ProtoField], schemaId: Int): Column =
    org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit(ConfluentAvro.header(schemaId)),
      encodeProto(payload, fields))
}
