package graft.codec

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.codec.ConfluentAvro._

class ConfluentAvroSpec extends SparkSpec {

  test("encode → decode round-trips the canonical 3-field record") {
    import spark.implicits._
    val in = Seq(("k1", "v1", 1), ("k2", "v2", -7)).toDF("key", "value", "num")
    val wire = in.select(
      toConfluentAvro(struct(col("key"), col("value"), col("num")),
        eventSchemaJson, schemaId = 42).as("value"))
    val back = wire.select(fromConfluentAvro(col("value"), eventSchemaJson).as("m"))
      .select("m.key", "m.value", "m.num")
    rows(back) shouldBe Seq(Seq("k1", "v1", 1), Seq("k2", "v2", -7))
  }

  test("wire format: magic byte 0 + big-endian schema id header") {
    import spark.implicits._
    val wire = Seq(("k", "v", 5)).toDF("key", "value", "num")
      .select(toConfluentAvro(struct(col("key"), col("value"), col("num")),
        eventSchemaJson, schemaId = 0x01020304).as("value"))
    val bytes = wire.head().getAs[Array[Byte]](0)
    bytes(0) shouldBe 0x00.toByte
    bytes.slice(1, 5) shouldBe Array(0x01, 0x02, 0x03, 0x04).map(_.toByte)
    // and the id expression reads it back
    wire.select(confluentSchemaId(col("value"))).head().getInt(0) shouldBe 0x01020304
  }

  test("nullable [null, T] union fields survive the round trip") {
    import spark.implicits._
    val schema =
      """{"type":"record","name":"N","fields":[
        |{"name":"s","type":["null","string"]},
        |{"name":"n","type":"long"}]}""".stripMargin
    val in = Seq((Some("x"), 1L), (None, 2L)).toDF("s", "n")
    val back = in.select(
        toConfluentAvro(struct(col("s"), col("n")), schema, 7).as("v"))
      .select(fromConfluentAvro(col("v"), schema).as("m"))
      .select("m.s", "m.n")
    rows(back) shouldBe Seq(Seq("x", 1L), Seq(null, 2L))
  }

  test("decode rejects payloads without the Confluent magic byte") {
    import spark.implicits._
    val junk = Seq(Array[Byte](9, 9, 9, 9, 9, 9)).toDF("value")
    val e = intercept[Exception] {
      junk.select(fromConfluentAvro(col("value"), eventSchemaJson)).collect()
    }
    e.getMessage should include("Confluent")
  }

  test("encode maps struct fields to schema fields by NAME, not position") {
    import spark.implicits._
    // outgoing schema orders fields (value, key, num) — a registry-
    // resolved schema need not match the struct's order
    val reordered =
      """{"type":"record","name":"Event","fields":[
        |{"name":"value","type":"string"},
        |{"name":"key","type":"string"},
        |{"name":"num","type":"int"}]}""".stripMargin
    val wire = Seq(("the-key", "the-value", 3)).toDF("key", "value", "num")
      .select(toConfluentAvro(struct(col("key"), col("value"), col("num")),
        reordered, schemaId = 1).as("value"))
    val back = wire.select(fromConfluentAvro(col("value"), reordered).as("m"))
      .select("m.key", "m.value", "m.num").head()
    back.getString(0) shouldBe "the-key"   // not silently swapped
    back.getString(1) shouldBe "the-value"
    back.getInt(2) shouldBe 3
  }

  test("encode rejects a schema field missing from the input struct") {
    import spark.implicits._
    val widened =
      """{"type":"record","name":"Event","fields":[
        |{"name":"key","type":"string"},
        |{"name":"extra","type":"string"}]}""".stripMargin
    val e = intercept[Exception] {
      Seq(("k", "v", 1)).toDF("key", "value", "num")
        .select(toConfluentAvro(struct(col("key"), col("value"), col("num")),
          widened, schemaId = 1)).collect()
    }
    e.getMessage should include("missing from input struct")
  }

  // ---- Differential: the codec against Avro's own GenericDatumReader and
  // GenericDatumWriter as the oracle, over random flat schemas and records:
  // every supported type, [null, T] unions in both orders, non-ASCII and
  // invalid UTF-8 text, CESU surrogates, empty strings and Int/Long
  // extremes, plus random truncations and byte flips of valid frames.

  import java.nio.ByteBuffer
  import java.nio.charset.StandardCharsets.UTF_8
  import scala.jdk.CollectionConverters._
  import org.apache.avro.Schema
  import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
  import org.apache.avro.io.{DecoderFactory, EncoderFactory}
  import org.apache.avro.util.Utf8
  import org.apache.spark.sql.{Column, Row}
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String
  import org.scalacheck.Gen
  import org.scalacheck.rng.Seed

  // A flipped length byte can claim a string of up to 2 GB, which Avro
  // allocates before it finds the frame too short. Frames here are far
  // below 1 MiB, so the oracle's verdict is the same with a 1 MiB limit.
  Seq("string", "bytes").foreach(k =>
    System.setProperty(s"org.apache.avro.limits.$k.maxLength", (1 << 20).toString))
  locally {
    val reset = classOf[org.apache.avro.SystemLimitException].getDeclaredMethod("resetLimits")
    reset.setAccessible(true)
    reset.invoke(null)
  }

  private val kinds = Seq("string", "int", "long", "float", "double", "boolean", "bytes")

  /** (field name, avro type, branch of null in a union or -1) */
  private type Field = (String, String, Int)

  private val schemaGen: Gen[Seq[Field]] = for {
    n <- Gen.chooseNum(1, 6)
    fs <- Gen.listOfN(n, Gen.zip(Gen.oneOf(kinds), Gen.oneOf(-1, -1, 0, 1)))
  } yield fs.zipWithIndex.map { case ((k, nb), i) => (s"f$i", k, nb) }

  private def json(fs: Seq[Field]): String = fs.map { case (name, k, nb) =>
    val t = nb match {
      case -1 => s""""$k""""
      case 0 => s"""["null","$k"]"""
      case _ => s"""["$k","null"]"""
    }
    s"""{"name":"$name","type":$t}"""
  }.mkString("""{"type":"record","name":"R","fields":[""", ",", "]}")

  private def bytesOf(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** UTF-8 text and byte runs that are not UTF-8 at all. */
  private val textGen: Gen[Array[Byte]] = Gen.frequency(
    3 -> Gen.alphaNumStr.map(_.getBytes(UTF_8)),
    2 -> Gen.asciiPrintableStr.map(_.getBytes(UTF_8)),
    2 -> Gen.listOf(Gen.oneOf("é", "ß", "ж", "€", "中", "😀", "a", "\u0000")).map(_.mkString.getBytes(UTF_8)),
    1 -> Gen.const(Array.emptyByteArray),
    2 -> Gen.oneOf(
      bytesOf(0xC3),                         // truncated 2-byte sequence
      bytesOf(0x61, 0xFF, 0x62),             // byte that never starts a sequence
      bytesOf(0xC0, 0x80),                   // overlong NUL
      bytesOf(0xED, 0xA0, 0x80, 0xED, 0xB0, 0x80), // CESU-8 surrogate pair
      bytesOf(0xED, 0xA0, 0x80),             // lone high surrogate
      bytesOf(0xF4, 0x90, 0x80, 0x80),       // above U+10FFFF
      bytesOf(0x80, 0x41)))                  // stray continuation byte

  private def valueGen(kind: String): Gen[Any] = kind match {
    case "string" => textGen
    case "int" => Gen.frequency(3 -> Gen.chooseNum(Int.MinValue, Int.MaxValue),
      1 -> Gen.oneOf(Int.MinValue, Int.MaxValue, 0, -1, 63, 64, -65))
    case "long" => Gen.frequency(3 -> Gen.chooseNum(Long.MinValue, Long.MaxValue),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L, Int.MaxValue + 1L, Int.MinValue - 1L))
    case "float" => Gen.frequency(3 -> Gen.chooseNum(-1e30f, 1e30f),
      1 -> Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.MinValue, -0.0f, Float.MinPositiveValue))
    case "double" => Gen.frequency(3 -> Gen.chooseNum(-1e300, 1e300),
      1 -> Gen.oneOf(Double.NaN, Double.NegativeInfinity, Double.MaxValue, -0.0, Double.MinPositiveValue))
    case "boolean" => Gen.oneOf(true, false)
    case "bytes" => Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
  }

  private def recordGen(fs: Seq[Field]): Gen[Seq[Any]] = Gen.sequence[Seq[Any], Any](fs.map {
    case (_, k, -1) => valueGen(k)
    case (_, k, _) => Gen.frequency(1 -> Gen.const(null), 3 -> valueGen(k))
  })

  private def sample[A](g: Gen[A], seed: Long): A =
    g(Gen.Parameters.default.withSize(24), Seed(seed)).getOrElse(sys.error(s"no sample for seed $seed"))

  private def header(id: Int) = ByteBuffer.allocate(5).put(0.toByte).putInt(id).array()

  /** Avro's value for a generated one; text as the raw bytes, which Avro
    * writes unchanged from a `Utf8`.
    */
  private def toAvro(v: Any, kind: String): Any = (v, kind) match {
    case (null, _) => null
    case (b: Array[Byte], "string") => new Utf8(b)
    case (b: Array[Byte], _) => ByteBuffer.wrap(b)
    case (x, _) => x
  }

  private def oracleEncode(schema: Schema, fs: Seq[Field], rec: Seq[Any], id: Int): Array[Byte] = {
    val r = new GenericData.Record(schema)
    rec.zip(fs).zipWithIndex.foreach { case ((v, f), i) => r.put(i, toAvro(v, f._2)) }
    val out = new java.io.ByteArrayOutputStream()
    out.write(header(id))
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](schema).write(r, enc)
    enc.flush()
    out.toByteArray
  }

  /** Avro's record for a frame, Catalyst-comparable, or None where it throws. */
  private def oracleDecode(schema: Schema, frame: Array[Byte]): Option[Seq[Any]] =
    if (frame.length < 5 || frame(0) != 0) None
    else try {
      val dec = DecoderFactory.get().binaryDecoder(frame, 5, frame.length - 5, null)
      val r = new GenericDatumReader[GenericRecord](schema).read(null, dec)
      Some((0 until schema.getFields.size).map(i => norm(r.get(i) match {
        // what the codec must produce for Avro's string: its UTF-8 bytes
        case u: Utf8 => u.toString.getBytes(UTF_8)
        case b: ByteBuffer => val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
        case x => x
      })))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Comparable form: byte arrays by content, floats by (NaN-canonical) bits. */
  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case f: Float => ("f", java.lang.Float.floatToIntBits(f))
    case d: Double => ("d", java.lang.Double.doubleToLongBits(d))
    case x => x
  }

  /** Decoded fields as Catalyst holds them: strings as their bytes. */
  private def fieldCols(fs: Seq[Field], struct: String): Seq[Column] = fs.map {
    case (name, "string", _) => col(s"$struct.$name").cast("binary")
    case (name, _, _) => col(s"$struct.$name")
  }

  test("decode equals Avro's reader; the safe decoder is null exactly where Avro throws") {
    var checked, malformed = 0
    (0 until 30).foreach { s =>
      val fs = sample(schemaGen, 1000L + s)
      val sj = json(fs)
      val schema = new Schema.Parser().parse(sj)
      val recs = (0 until 40).map(r => sample(recordGen(fs), 7919L * s + r))
      val valid = recs.map(oracleEncode(schema, fs, _, s))
      val rnd = new scala.util.Random(s)
      val corrupt = valid.flatMap { f =>
        val flipped = f.clone()
        val at = rnd.nextInt(f.length)
        flipped(at) = (flipped(at) ^ (1 + rnd.nextInt(255))).toByte
        Seq(f.take(rnd.nextInt(f.length)), flipped)
      }
      // varints at the width limits lead the body; zeros decode the rest
      val varints = Seq(Seq.fill(5)(0x80) :+ 0x01, Seq(0x80, 0x80, 0x80, 0x80, 0x7F),
        Seq.fill(9)(0x80) :+ 0x7F, Seq.fill(10)(0xFF) :+ 0x01)
        .map(v => header(s) ++ bytesOf(v: _*) ++ new Array[Byte](64))
      val frames = valid ++ corrupt ++ varints :+ Array[Byte](0, 0, 0, 0)
      import spark.implicits._
      val df = frames.zipWithIndex.toDF("value", "i")
      val safe = df.select(col("i"), fromConfluentAvroSafe(col("value"), sj).as("m"))
        .select(col("i") +: col("m").isNull +: fieldCols(fs, "m"): _*)
        .collect().sortBy(_.getInt(0))
      safe.foreach { row =>
        val frame = frames(row.getInt(0))
        val got = if (row.getBoolean(1)) None else Some((2 until row.length).map(j => norm(row.get(j))))
        withClue(s"schema $sj, frame ${frame.map(b => f"$b%02x").mkString}: ") {
          got shouldBe oracleDecode(schema, frame)
        }
        if (got.isEmpty) malformed += 1
        checked += 1
      }
      // the strict decoder agrees on every frame Avro reads
      val strict = frames.zipWithIndex.filter(f => oracleDecode(schema, f._1).isDefined).toDF("value", "i")
        .select(col("i"), fromConfluentAvro(col("value"), sj).as("m"))
        .select(col("i") +: fieldCols(fs, "m"): _*).collect()
      strict.foreach { row =>
        Some((1 until row.length).map(j => norm(row.get(j)))) shouldBe
          oracleDecode(schema, frames(row.getInt(0)))
      }
    }
    // the corruptions must exercise both verdicts
    malformed should be > checked / 10
    malformed should be < checked * 9 / 10
  }

  test("encode writes Avro's bytes, including Number narrowing into numeric fields") {
    // a plain numeric field takes any numeric input (Avro's writer calls
    // Number.intValue and friends); a union takes only its own type
    val inputTypes = Map[String, Seq[(DataType, Gen[Any])]](
      "int" -> Seq(IntegerType -> valueGen("int"), LongType -> valueGen("long"),
        DoubleType -> valueGen("double")),
      "long" -> Seq(LongType -> valueGen("long"), IntegerType -> valueGen("int"),
        FloatType -> valueGen("float")),
      "float" -> Seq(FloatType -> valueGen("float"), DoubleType -> valueGen("double"),
        LongType -> valueGen("long")),
      "double" -> Seq(DoubleType -> valueGen("double"), IntegerType -> valueGen("int")))
    (0 until 30).foreach { s =>
      val fs = sample(schemaGen, 5000L + s)
      val sj = json(fs)
      val schema = new Schema.Parser().parse(sj)
      val rnd = new scala.util.Random(s)
      val inputs: Seq[(DataType, Gen[Any])] = fs.map {
        case (_, k, -1) if inputTypes.contains(k) => inputTypes(k)(rnd.nextInt(inputTypes(k).size))
        case (_, "string", _) => BinaryType -> textGen // cast to string below, bytes kept
        case (_, k, _) => inputTypes.get(k).map(_.head).getOrElse(
          (if (k == "boolean") BooleanType else BinaryType) -> valueGen(k))
      }
      val recs = (0 until 40).map { r =>
        val g = Gen.sequence[Seq[Any], Any](fs.zip(inputs).map {
          case ((_, _, -1), (_, vg)) => vg
          case (_, (_, vg)) => Gen.frequency(1 -> Gen.const(null), 3 -> vg)
        })
        sample(g, 31L * s + r)
      }
      val df = spark.createDataFrame(recs.map(Row.fromSeq).asJava,
        StructType(fs.zip(inputs).map { case ((n, _, _), (t, _)) => StructField(n, t) }))
      val payload = struct(fs.map {
        case (n, "string", _) => col(n).cast("string").as(n)
        case (n, _, _) => col(n)
      }: _*)
      val got = df.select(toConfluentAvro(payload, sj, s)).collect().map(_.getAs[Array[Byte]](0).toSeq)
      got.zip(recs).foreach { case (bytes, rec) =>
        // Avro's writer sees the text as Spark hands it over: a String
        val avroRec = rec.zip(fs).map {
          case (b: Array[Byte], (_, "string", _)) => UTF8String.fromBytes(b).toString.getBytes(UTF_8)
          case (v, _) => v
        }
        withClue(s"schema $sj, record ${rec.map(norm)}: ") {
          bytes shouldBe oracleEncode(schema, fs, avroRec, s).toSeq
        }
      }
    }
  }

  test("encode refuses a null for a non-union field, and a union input of another type") {
    import spark.implicits._
    val one = """{"type":"record","name":"R","fields":[{"name":"n","type":"int"}]}"""
    val nul = intercept[Exception] {
      Seq(Option.empty[Int]).toDF("n").select(toConfluentAvro(struct(col("n")), one, 1)).collect()
    }
    Iterator.iterate[Throwable](nul)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("non-nullable")) shouldBe true
    val union = """{"type":"record","name":"R","fields":[{"name":"n","type":["null","int"]}]}"""
    val e = intercept[Exception] {
      Seq(1L).toDF("n").select(toConfluentAvro(struct(col("n")), union, 1)).collect()
    }
    e.getMessage should include("cannot encode input field 'n'")
  }
}
