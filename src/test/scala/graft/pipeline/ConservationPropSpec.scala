package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** SURVEY §5 test plan item 3: for random pipelines à la the reference's
  * update_pipelines.js fuzzer (1-3 random steps, random DLQ slots),
  * received = completed + dlq + dropped + error — the invariant the
  * reference's operators verify from Prometheus counters.
  */
class ConservationPropSpec extends SparkSpec {

  private val stepGen: Gen[Step] = for {
    name <- Gen.oneOf("add10", "appendString", "capitalize", "reverseString",
      "isEven", "parseNum")
    dlq <- Gen.option(Gen.oneOf("dlq_a", "dlq_b"))
  } yield Step(Processors(name), dlq)

  private val pipelineGen: Gen[Pipeline] =
    Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, stepGen)).map(Pipeline(_))

  test("conservation holds for random step chains (reference update_pipelines fuzz)") {
    val n = 200
    val in = spark.range(n).select(
      col("id").cast("string").as("key"),
      // mix of numeric and non-numeric values so parseNum sometimes errors
      when(col("id") % 3 === 0, concat(lit("x"), col("id")))
        .otherwise(col("id").cast("string")).as("value"),
      col("id").cast("int").as("num")).cache()
    in.count()

    (0 until 15).foreach { i =>
      val pipe = pipelineGen(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail(s"generator produced no pipeline for seed $i"))
      withClue(s"pipeline ${pipe.steps.map(s => s.processor.name -> s.dlq)}: ") {
        val r = pipe(in)
        val total = r.toTarget.count() + r.toDlq.count() +
          r.dropped.count() + r.errors.count()
        total shouldBe n.toLong
      }
    }
  }

  test("every pipeline_metrics counter equals its count grouped from the routed columns") {
    val n = 300
    val in = spark.range(n).select(
      col("id").cast("string").as("key"),
      when(col("id") % 5 === 0, concat(lit("v"), col("id")))
        .otherwise(col("id").cast("string")).as("value"),
      col("id").cast("int").as("num")).cache()
    in.count()
    val longer = Gen.chooseNum(1, 4).flatMap(n => Gen.listOfN(n, stepGen)).map(Pipeline(_))

    (0 until 15).foreach { i =>
      val pipe = longer(Gen.Parameters.default, Seed(7L + i))
        .getOrElse(fail(s"generator produced no pipeline for seed $i"))
      withClue(s"pipeline ${pipe.steps.map(s => s.processor.name -> s.dlq)}: ") {
        val r = pipe.observed(in)
        // (topic, error_step, dropped_step) of every routed row
        val routed = r.df.collect().toSeq.map(row => (row.getAs[String]("topic"),
          Option(row.getAs[Integer]("error_step")).map(_.intValue),
          Option(row.getAs[Integer]("dropped_step")).map(_.intValue)))
        val observed = r.df.queryExecution.observedMetrics("pipeline_metrics")

        def rowsWhere(p: ((String, Option[Int], Option[Int])) => Boolean): Long =
          routed.count(p).toLong
        def stop(row: (String, Option[Int], Option[Int])): Option[Int] = row._2.orElse(row._3)
        val sentinels = Set(pipe.target, Routing.Dropped, Routing.Error)
        val expected = Map(
          "messages_received_total" -> routed.size.toLong,
          "processors_applied_total" -> routed.map(stop(_).fold(pipe.steps.size)(_ + 1).toLong).sum,
          "messages_completed_total" -> rowsWhere(_._1 == pipe.target),
          "messages_dlq_total" -> rowsWhere(row => !sentinels(row._1)),
          "messages_dropped_total" -> rowsWhere(_._1 == Routing.Dropped),
          "messages_error_total" -> rowsWhere(_._1 == Routing.Error)) ++
          pipe.steps.zipWithIndex.flatMap { case (Step(p, _), k) =>
            Seq(
              s"step_${k}_${p.name}_rows_in_total" -> rowsWhere(stop(_).forall(_ >= k)),
              s"step_${k}_${p.name}_errors_total" -> rowsWhere(_._2.contains(k)),
              s"step_${k}_${p.name}_dropped_total" -> rowsWhere(_._3.contains(k)))
          }
        observed.schema.fieldNames.toSet shouldBe expected.keySet
        expected.foreach { case (name, v) =>
          withClue(s"$name: ") { observed.getAs[Long](name) shouldBe v }
        }
      }
    }
  }
}
