package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** parseNum parses `value` once, with its own kernel; the reference result
  * is `try_cast(value as bigint)`, value and null-ness, over generated
  * strings around every rule of Spark's exact parse (trimmed bytes, one
  * sign, digits only, the range of a long). The chain keeps the pre-chain
  * message as plain columns; DLQ and poison rows are checked against it.
  */
class ParseNumPropSpec extends SparkSpec {

  // bytes Spark trims (ASCII whitespace and ISO controls) and a few it keeps
  private val trimmed = (0 to 0x20).map(_.toChar) :+ '\u007f'
  private val kept = Seq('\u00a0', '\u0085', '\u2007', '\u3000', 'x')
  private val nonAsciiDigits = Seq("١٢", "１２", "1٣", "১", "𝟙")
  private val bounds = Seq(Long.MaxValue, Long.MinValue).flatMap { b =>
    val s = BigInt(b)
    Seq(s, s + 1, s - 1, s * 10, s + (if (b > 0) 10 else -10)).map(_.toString)
  }

  private val digits: Gen[String] = Gen.chooseNum(0, 21).flatMap(n =>
    Gen.listOfN(n, Gen.numChar).map(_.mkString))
  private val core: Gen[String] = Gen.frequency(
    6 -> digits,
    2 -> Gen.oneOf(bounds),
    1 -> Gen.oneOf(nonAsciiDigits),
    1 -> Gen.oneOf("", "+", "-", ".", "0", "00", "+-1", "--1", "1e3", "0x1f", "1 2"))
  private val signed: Gen[String] = for {
    sign <- Gen.frequency(4 -> "", 1 -> "+", 1 -> "-")
    c <- core
  } yield sign + c
  // a '.' anywhere, the decimal point the legacy cast accepts and try_cast refuses
  private val dotted: Gen[String] = signed.flatMap(s =>
    Gen.frequency(3 -> Gen.const(s),
      1 -> Gen.chooseNum(0, s.length).map(i => s.take(i) + "." + s.drop(i))))
  private val pad: Gen[String] = Gen.chooseNum(0, 3).flatMap(n =>
    Gen.listOfN(n, Gen.frequency(4 -> Gen.oneOf(trimmed), 1 -> Gen.oneOf(kept))).map(_.mkString))
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    20 -> (for { l <- pad; s <- dotted; r <- pad } yield Some(l + s + r)))

  private val values: Seq[Option[String]] = {
    val generated = Gen.listOfN(3000, text)(Gen.Parameters.default, Seed(11L))
      .getOrElse(fail("the generator produced no values"))
    val fixed = (bounds ++ nonAsciiDigits ++ Seq("", "+", "-", " - ", "\t+\n", ".", "1.", ".1",
      "-.5", "1.5", " 12 ", "\u000012\u007f", " 12")).map(Some(_)) :+ None
    fixed ++ generated
  }

  private def frame(rdd: Boolean): DataFrame = {
    val schema = StructType(Seq(StructField("value", StringType)))
    val rows = values.map(v => Row(v.orNull))
    if (rdd) spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    else spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  // an RDD-backed frame runs the generated code; a local one is folded
  // by the optimizer through the interpreted path
  Seq(true -> "generated code", false -> "interpreted").foreach { case (rdd, path) =>
    test(s"parseNum equals try_cast(value as bigint) in value and null-ness ($path)") {
      val m = Msg(lit("k"), col("value"), lit(0))
      val out = frame(rdd).select(col("value"),
        Processors.parseNum.fn(m).num.as("got"),
        Processors.parseNum.errorWhen(m).as("error"),
        col("value").try_cast("long").as("want")).collect()
      out should have size values.size.toLong
      out.foreach { r =>
        withClue(s"value ${Option(r.getString(0)).map(_.map(_.toInt).mkString("[", ",", "]"))}: ") {
          Option(r.get(1)) shouldBe Option(r.get(3))
          r.getBoolean(2) shouldBe r.isNullAt(3)
        }
      }
      // the generator reaches both outcomes, and both long bounds parse
      out.count(_.isNullAt(3)) should be > 100
      out.count(!_.isNullAt(3)) should be > 100
      out.flatMap(r => Option(r.get(1))).toSet should contain allOf (Long.MaxValue, Long.MinValue)
    }
  }

  test("DLQ rows carry the pre-chain message; poison rows route to the error sink") {
    import spark.implicits._
    val in = Seq(("k1", Some("7"), Some(1)), ("k2", Some("oops"), Some(2)),
      ("k3", Some("8"), Some(3)), ("k4", Option.empty[String], Option.empty[Int]))
      .toDF("key", "value", "num")
      .withColumn("poison", col("key") === "k4")
    val p = Pipeline(Seq(
      Step(Processors.appendString), Step(Processors.capitalize), // mutate value first
      Step(Processors.parseNum, Some("dlq_parse")),
      Step(Processors.add10), Step(Processors.isEven)))
    // appendString makes every value non-numeric: all decoded rows go to the DLQ
    val r = p.observedWithPoison(in, col("poison"))
    r.df.collect().toSeq.sortBy(_.getAs[String]("key")).map(_.toSeq) shouldBe Seq(
      Seq("dlq_parse", "k1", "7", 1, 2, null),
      Seq("dlq_parse", "k2", "oops", 2, 2, null),
      Seq("dlq_parse", "k3", "8", 3, 2, null),
      Seq(Routing.Error, "k4", null, null, Pipeline.Poison, null))
    val m = r.df.queryExecution.observedMetrics("pipeline_metrics")
    m.getAs[Long]("messages_received_total") shouldBe 4
    m.getAs[Long]("messages_dlq_total") shouldBe 3
    m.getAs[Long]("messages_error_total") shouldBe 1
    m.getAs[Long]("step_0_appendString_rows_in_total") shouldBe 3
    m.getAs[Long]("processors_applied_total") shouldBe 9
    r.errors.count() shouldBe 1

    val q = Pipeline(Seq(Step(Processors.capitalize), Step(Processors.parseNum, Some("d")),
      Step(Processors.add10)))(in.filter(col("key") =!= "k4").drop("poison"))
    rows(q.toTarget.orderBy("key")) shouldBe Seq(Seq("k1", "7", 17L), Seq("k3", "8", 18L))
    rows(q.toDlq.select("topic", "key", "value", "num")) shouldBe Seq(Seq("d", "k2", "oops", 2))
  }
}
