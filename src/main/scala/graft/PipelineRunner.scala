package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{ConfluentAvro, SchemaRegistry}
import graft.pipeline.{Catalog, PipelineDef}
import graft.streaming.StreamingOps

/** The `node src/listen.js` analog (reference src/listen.js:36-87): load
  * one pipeline definition, wire Kafka source → decode → compiled chain →
  * routed Kafka sink, and run until terminated.
  *
  * Usage:
  *   PipelineRunner <brokers> <pipelineJsonPath> <checkpointDir> [registryUrl]
  *
  * With a registry URL, the incoming and outgoing schemas are resolved
  * from their catalog names as registry subjects at startup (reference
  * src/consumer.js:212-219) — DISTINCT schemas for decode and encode, per
  * the catalog design (SURVEY §1.3; the reference collapses them, a
  * documented quirk). Without one, both default to the canonical event
  * schema.
  *
  * The pipeline definition is the JSON shape Catalog.fromJson parses (a
  * config-service export of the reference's `pipelines` row; use
  * Catalog.fromJdbc instead when Postgres + a JDBC driver are present).
  * Requires the spark-sql-kafka connector on the classpath at deploy
  * time — the engine code is connector-agnostic.
  */
object PipelineRunner {

  def main(args: Array[String]): Unit = {
    val Array(brokers, specPath, checkpointDir) = args.take(3)
    val registryUrl = args.lift(3)

    val spark = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()

    val spec = Catalog.fromJson(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(specPath)),
        java.nio.charset.StandardCharsets.UTF_8))
    val query = registryUrl match {
      case Some(url) => startWithRegistry(spark, spec, brokers, checkpointDir, url)
      case None => start(spark, spec, brokers, checkpointDir)
    }
    query.awaitTermination()
  }

  /** Resolve the spec's incoming/outgoing schema names against a schema
    * registry (once, on the driver, cached) and start the pipeline with
    * the two resolved schemas. The outgoing wire-format id is the
    * registry's id for the OUTGOING schema — encoded messages advertise
    * the schema they were written with, not the one they were read with.
    */
  def startWithRegistry(spark: SparkSession, spec: PipelineDef, brokers: String,
      checkpointDir: String, registryUrl: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val registry = new SchemaRegistry(registryUrl)
    val in = registry.latest(spec.incomingSchema)
    val out = registry.latest(spec.outgoingSchema)
    start(spark, spec, brokers, checkpointDir,
      inSchemaJson = in.schemaJson, outSchemaJson = out.schemaJson,
      outSchemaId = out.id)
  }

  /** Build and start the streaming query for one pipeline definition. */
  def start(spark: SparkSession, spec: PipelineDef, brokers: String,
      checkpointDir: String,
      inSchemaJson: String = ConfluentAvro.eventSchemaJson,
      outSchemaJson: String = ConfluentAvro.eventSchemaJson,
      outSchemaId: Int = 1): org.apache.spark.sql.streaming.StreamingQuery = {
    val source = StreamingOps.kafkaSource(spark, brokers, spec.sourceTopic)
    val routed = decodeAndRoute(source, spec, inSchemaJson, outSchemaJson, outSchemaId)
    StreamingOps.kafkaSink(routed, brokers, checkpointDir).start()
  }

  /** The full data plane minus source/sink, reusable over any frame with
    * a binary `value` column (batch or streaming): guarded decode with
    * the incoming schema, compiled chain with conservation metrics,
    * topic-routed encode with the outgoing schema.
    *
    * A malformed message decodes to null instead of killing the query
    * and enters the chain as an error before its first step: it is
    * counted in the one observation, "pipeline_metrics", as received and
    * as `messages_error_total` (the reference's per-message catch at
    * src/consumer.js:142-150), and produced nowhere, exactly like a
    * chain-errored row with no DLQ. Decode, chain and observation inputs
    * compile into one whole-stage pass; route filter and encode into a
    * second one after the observation.
    */
  def decodeAndRoute(source: DataFrame, spec: PipelineDef,
      inSchemaJson: String, outSchemaJson: String, outSchemaId: Int): DataFrame = {
    val decoded = source
      .select(ConfluentAvro.fromConfluentAvroSafe(col("value"), inSchemaJson).as("m"))
      .select(col("m.key"), col("m.value"), col("m.num"), col("m").isNull.as("poison"))
    spec.toPipeline.observedWithPoison(decoded, col("poison")).kafkaShape(df =>
      ConfluentAvro.toConfluentAvro(
        struct(df("key"), df("value"), df("num")), outSchemaJson, outSchemaId))
  }
}
