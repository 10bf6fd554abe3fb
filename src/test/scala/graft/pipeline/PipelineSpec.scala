package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Chain-semantics contract of the reference engine (SURVEY.md §2.2):
  * ordered steps, filter-drop accounting, per-step DLQ with ORIGINAL
  * payload, null-DLQ fallthrough to the error sink, conservation.
  */
class PipelineSpec extends SparkSpec {
  import org.apache.spark.sql.Row

  private def msgs(data: (String, String, Int)*): DataFrame = {
    import spark.implicits._
    data.toDF("key", "value", "num")
  }

  test("add10 matches reference src/transformations/add10.js") {
    val out = Pipeline(Seq(Step(Processors.add10)))(msgs(("k1", "v1", 1))).toTarget
    rows(out) shouldBe Seq(Seq("k1", "v1", 11))
  }

  test("appendString / capitalize / reverseString semantics") {
    val in = msgs(("k", "aBc", 5))
    rows(Pipeline(Seq(Step(Processors.appendString)))(in).toTarget) shouldBe
      Seq(Seq("k", "aBc_appended", 5))
    rows(Pipeline(Seq(Step(Processors.capitalize)))(in).toTarget) shouldBe
      Seq(Seq("k", "ABC", 5))
    rows(Pipeline(Seq(Step(Processors.reverseString)))(in).toTarget) shouldBe
      Seq(Seq("k", "cBa", 5))
  }

  test("isEven filter drops odd rows and counts them") {
    val r = Pipeline(Seq(Step(Processors.isEven)))(msgs(("a", "x", 2), ("b", "y", 3)))
    rows(r.toTarget) shouldBe Seq(Seq("a", "x", 2))
    r.dropped.count() shouldBe 1
  }

  test("a NULL filter predicate drops the row (SQL filter semantics)") {
    import spark.implicits._
    // num null → (num % 2 = 0) is null → drop, exactly like df.filter
    val in = Seq(("a", "x", Some(2)), ("b", "y", Option.empty[Int]))
      .toDF("key", "value", "num")
    val r = Pipeline(Seq(Step(Processors.isEven)))(in)
    rows(r.toTarget) shouldBe Seq(Seq("a", "x", 2))
    r.dropped.count() shouldBe 1
  }

  test("steps execute in array order (reference src/consumer.js:89)") {
    // add10 then isEven: 1 -> 11 (odd, dropped); isEven then add10: kept
    val in = msgs(("k", "v", 1))
    Pipeline(Seq(Step(Processors.add10), Step(Processors.isEven)))(in)
      .toTarget.count() shouldBe 0
    val in2 = msgs(("k", "v", 2))
    rows(Pipeline(Seq(Step(Processors.isEven), Step(Processors.add10)))(in2).toTarget) shouldBe
      Seq(Seq("k", "v", 12))
  }

  test("step error routes ORIGINAL message to that step's DLQ (src/consumer.js:87,100)") {
    val in = msgs(("k1", "7", 0), ("k2", "oops", 0))
    val r = Pipeline(Seq(
      Step(Processors.capitalize),                   // mutates value first
      Step(Processors.parseNum, Some("dlq_parse")),
      Step(Processors.add10)))(in)
    rows(r.toTarget) shouldBe Seq(Seq("k1", "7", 17))
    // DLQ row carries the PRE-CHAIN original, not the capitalized value
    rows(r.toDlq.select("topic", "key", "value", "num")) shouldBe
      Seq(Seq("dlq_parse", "k2", "oops", 0))
  }

  test("error with null DLQ slot falls through to error sink (dlq:[null,17] case)") {
    val in = msgs(("k2", "oops", 0))
    val r = Pipeline(Seq(Step(Processors.parseNum, None)))(in)
    r.toTarget.count() shouldBe 0
    r.toDlq.count() shouldBe 0
    r.errors.count() shouldBe 1
  }

  test("post-error steps are skipped for the errored row") {
    val in = msgs(("k", "bad", 100))
    val r = Pipeline(Seq(Step(Processors.parseNum, Some("d")), Step(Processors.add10)))(in)
    // num stays 100 (original), not 110
    rows(r.toDlq.select("num")) shouldBe Seq(Seq(100))
  }

  test("conservation: received = completed + dlq + dropped + error") {
    val n = 100
    val in = spark.range(n).select(
      col("id").cast("string").as("key"),
      when(col("id") % 7 === 0, lit("bad")).otherwise(col("id").cast("string")).as("value"),
      col("id").cast("int").as("num"))
    val r = Pipeline(Seq(
      Step(Processors.parseNum, Some("dlq_p")),
      Step(Processors.isEven),
      Step(Processors.add10)))(in)
    val total = r.toTarget.count() + r.toDlq.count() + r.dropped.count() + r.errors.count()
    total shouldBe n
  }

  test("observed metrics report the conservation counters") {
    import org.apache.spark.sql.Observation
    val in = msgs(("a", "1", 0), ("b", "x", 0), ("c", "3", 0))
    val p = Pipeline(Seq(Step(Processors.parseNum, Some("d")), Step(Processors.isEven)))
    val r = p.observed(in)
    r.df.collect()
    // 1 -> odd -> dropped; x -> dlq; 3 -> odd -> dropped
    val row = r.df.queryExecution.observedMetrics("pipeline_metrics")
    row.getAs[Long]("messages_received_total") shouldBe 3
    row.getAs[Long]("messages_dlq_total") shouldBe 1
    row.getAs[Long]("messages_dropped_total") shouldBe 2
    // per-step labels (reference metrics.js {processor_name/step})
    row.getAs[Long]("step_0_parseNum_errors_total") shouldBe 1
    row.getAs[Long]("step_1_isEven_dropped_total") shouldBe 2
    row.getAs[Long]("step_0_parseNum_dropped_total") shouldBe 0
  }

  test("a DLQ topic equal to the target or to a routing sentinel is rejected, naming the step") {
    Seq("target", Routing.Dropped, Routing.Error).foreach { t =>
      val e = intercept[IllegalArgumentException] {
        Pipeline(Seq(Step(Processors.add10), Step(Processors.parseNum, Some(t))))
      }
      e.getMessage should include("step 1 (parseNum)")
      intercept[IllegalArgumentException] {
        Pipeline.fromNames(Seq("parseNum"), Seq(Some(t)), target = "target")
      }.getMessage should include("step 0 (parseNum)")
    }
    intercept[IllegalArgumentException] {
      Pipeline(Seq(Step(Processors.add10)), target = Routing.Dropped)
    }.getMessage should include("routing sentinel")
    // distinct DLQ topics, shared or not, stay legal
    Pipeline(Seq(Step(Processors.parseNum, Some("d")), Step(Processors.parseNum, Some("d"))))
  }

  test("parseNum's gated parse gives try_cast's num and errors") {
    import spark.implicits._
    val values = Seq(Some(" 12 "), Some("+3"), Some("-0"), Some("1.5"), Some(""),
      Some("9223372036854775808"), Some("v12x"), None)
    val in = values.zipWithIndex.map { case (v, i) => (s"k$i", v, 0) }.toDF("key", "value", "num")
    // the processor's definition before the gate, as the reference result
    val plain = MapProcessor("parseNum")(
      m => m.copy(num = m.value.try_cast("long")),
      errorWhen = m => m.value.try_cast("long").isNull)
    def outcome(p: Processor): Seq[Seq[Any]] =
      rows(Pipeline(Seq(Step(p)))(in).df.select("key", "num", "error_step").orderBy("key"))
    val gated = outcome(Processors.parseNum)
    gated shouldBe outcome(plain)
    // only " 12 ", "+3" and "-0" parse
    gated.map(_(2)) shouldBe Seq(null, null, null, 0, 0, 0, 0, 0)
    gated.take(3).map(_(1)) shouldBe Seq(12L, 3L, 0L)
  }

  test("fromNames builds from catalog-style parallel arrays") {
    val p = Pipeline.fromNames(Seq("capitalize", "isEven"), Seq(None, Some("d2")))
    p.steps.map(_.processor.name) shouldBe Seq("capitalize", "isEven")
    p.steps.map(_.dlq) shouldBe Seq(None, Some("d2"))
  }
}
