package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.LongType

/** The canonical message shape of the reference engine:
  * `{key: string, value: string, num: int}` (reference
  * performance-testing/loadTest.js:57-61, producer_c.js:37-47).
  * Columns, not values — a processor is a rewrite of these three
  * expressions, so an entire chain compiles into ONE Catalyst projection
  * (whole-stage codegen), not row-at-a-time interpretation like the
  * reference's JS fold (reference src/consumer.js:86-112).
  */
final case class Msg(key: Column, value: Column, num: Column)

/** A registered processor — the Spark analog of a file in the reference's
  * `src/transformations/` / `src/filters/` registered via
  * `pull_processors.js` and referenced by name in `pipelines.steps`.
  */
sealed trait Processor {
  def name: String
  def isFilter: Boolean
}

/** message → message' (reference "transformation", e.g.
  * src/transformations/add10.js). `errorWhen` marks rows this processor
  * would throw on — the Spark translation of a JS exception inside a
  * processor, which triggers per-step DLQ routing
  * (reference src/consumer.js:96-103).
  */
final case class MapProcessor(name: String)(
    val fn: Msg => Msg,
    val errorWhen: Msg => Column = (_: Msg) => lit(false)) extends Processor {
  override def isFilter: Boolean = false
}

/** message → boolean; false ⇒ silently drop + count (reference
  * src/filters/isEven.js returns null as the drop marker, accounted at
  * src/consumer.js:134-137).
  */
final case class FilterProcessor(name: String)(
    val pred: Msg => Column) extends Processor {
  override def isFilter: Boolean = true
}

/** Static, type-safe registry — the analog of the `processors` catalog
  * table + dynamic `require()` (reference src/consumer.js:90-91,
  * scripts/pipelines/pull_processors.js:14-40). Open for extension:
  * register any `Processor` by name.
  */
object Processors {
  /** reference src/transformations/add10.js:1-7 */
  val add10: MapProcessor =
    MapProcessor("add10")(m => m.copy(num = m.num + lit(10)))

  /** reference src/transformations/appendString.js:1-7 */
  val appendString: MapProcessor =
    MapProcessor("appendString")(m => m.copy(value = concat(m.value, lit("_appended"))))

  /** reference src/transformations/capitalize.js:1-7 */
  val capitalize: MapProcessor =
    MapProcessor("capitalize")(m => m.copy(value = upper(m.value)))

  /** reference src/transformations/reverseString.js:1-7 */
  val reverseString: MapProcessor =
    MapProcessor("reverseString")(m => m.copy(value = reverse(m.value)))

  /** reference src/filters/isEven.js:1-3 */
  val isEven: FilterProcessor =
    FilterProcessor("isEven")(m => m.num % 2 === lit(0))

  /** Failable processor (not in the reference library, which has no
    * failing step in-tree; exercises the DLQ contract of
    * src/consumer.js:96-103): parse `value` as a number into `num`,
    * "throwing" when it is not numeric.
    */
  val parseNum: MapProcessor = {
    // try_cast(string as bigint) throws and catches an exception inside for
    // every non-numeric value. The legacy cast returns null instead, and it
    // accepts a superset of what the exact parse accepts (the same parser,
    // also allowing a decimal part), so its null check can gate try_cast
    // without changing a result.
    def parsed(v: Column): Column =
      when(Bridge.legacyCast(v, LongType).isNotNull, v.try_cast("long"))
    MapProcessor("parseNum")(
      m => m.copy(num = parsed(m.value)),
      errorWhen = m => parsed(m.value).isNull)
  }

  private val builtin: Seq[Processor] =
    Seq(add10, appendString, capitalize, reverseString, isEven, parseNum)

  @volatile private var registry: Map[String, Processor] =
    builtin.map(p => p.name -> p).toMap

  def register(p: Processor): Unit = synchronized { registry += (p.name -> p) }
  def apply(name: String): Processor = registry(name)
  def get(name: String): Option[Processor] = registry.get(name)
  def all: Map[String, Processor] = registry
}

/** One pipeline step: a processor plus its optional dead-letter topic —
  * the parallel-array `steps.processors[i]` / `steps.dlq[i]` of the
  * reference catalog (scripts/pipelines/insertTestPipelines.js:23,
  * src/consumer.js:98-100).
  */
final case class Step(processor: Processor, dlq: Option[String] = None)

object Routing {
  /** Sentinel "topics" for rows the reference produces nowhere but counts:
    * filter-dropped (src/consumer.js:134-137) and errored-without-DLQ
    * (src/consumer.js:142-150).
    */
  val Dropped = "__dropped__"
  val Error = "__error__"
}

/** A routed batch: one DataFrame with a `topic` column, the exact shape a
  * Kafka sink with topic-column routing consumes — target vs per-step DLQ
  * chosen per row, replacing the reference's separate per-message DLQ
  * sends (src/consumer.js:159-172) with a single distributed write.
  *
  * Columns: topic, key, value, num, error_step (int|null), dropped_step
  * (int|null). DLQ rows carry the ORIGINAL pre-chain message, matching
  * src/consumer.js:87,100. `errorSinkSteps` are the steps with no DLQ,
  * whose errored rows go to the error sink.
  */
final case class RoutedMessages(df: DataFrame, target: String, errorSinkSteps: Seq[Int]) {
  private val msgCols = Seq(col("key"), col("value"), col("num"))
  def toTarget: DataFrame = df.filter(col("topic") === target).select(msgCols: _*)
  def toDlq: DataFrame =
    df.filter(col("topic") =!= target &&
      col("topic") =!= Routing.Dropped && col("topic") =!= Routing.Error)
  def dropped: DataFrame = df.filter(col("topic") === Routing.Dropped)
  def errors: DataFrame = df.filter(col("topic") === Routing.Error)

  /** Shape for `writeStream.format("kafka")`: (topic, key, value) binary —
    * the output Kafka key is the decoded payload's `key` field, NOT the
    * incoming message key (reference quirk, src/consumer.js:131,141).
    * Rows routed nowhere (dropped/error) are excluded, as the reference
    * produces them to no topic; the filter compares the integer step
    * columns, not topic strings.
    */
  def kafkaShape(encodeValue: DataFrame => Column): DataFrame = {
    val err = col("error_step")
    val toErrorSink =
      if (errorSinkSteps.isEmpty) lit(false) else err.isNotNull && err.isin(errorSinkSteps: _*)
    val live = df.filter(col("dropped_step").isNull && !toErrorSink)
    live.select(col("topic"), col("key").cast("binary").as("key"),
      encodeValue(live).as("value"))
  }
}

/** A compiled pipeline: ordered steps + target topic — the Spark analog of
  * one `pipelines` row (reference src/listen.js:58-87). The whole chain,
  * including per-step error capture and DLQ routing, is pure Column
  * expressions: Catalyst folds it into a single codegen'd projection, so
  * at 100 TB this is a narrow map stage with zero shuffles.
  */
final case class Pipeline(steps: Seq[Step], target: String = "target") {

  // A DLQ topic equal to the target or to a sentinel would route errored
  // originals as completed (or as dropped/error) rows.
  require(target != Routing.Dropped && target != Routing.Error,
    s"target topic '$target' collides with a routing sentinel")
  steps.zipWithIndex.foreach { case (Step(p, dlq), i) =>
    dlq.foreach { t =>
      require(t != target && t != Routing.Dropped && t != Routing.Error,
        s"step $i (${p.name}): DLQ topic '$t' collides with " +
          (if (t == target) "the target topic" else "a routing sentinel"))
    }
  }

  /** Compile & apply over a batch or streaming DataFrame with columns
    * (key, value, num). Steps execute in array order
    * (reference src/consumer.js:89); once a row is dropped or errored,
    * later steps skip it.
    */
  def apply(input: DataFrame): RoutedMessages = {
    var df = input
      .withColumn("__orig", struct(col("key"), col("value"), col("num")))
      .withColumn("__drop", lit(null).cast("int"))
      .withColumn("__err", lit(null).cast("int"))

    steps.zipWithIndex.foreach { case (Step(p, _), i) =>
      val ok = col("__drop").isNull && col("__err").isNull
      val m = Msg(col("key"), col("value"), col("num"))
      p match {
        case f: FilterProcessor =>
          // SQL filter semantics: a NULL predicate drops the row (like
          // df.filter). Without the coalesce, when(ok && !null, ...)
          // would fall through and silently KEEP null-predicate rows.
          df = df.withColumn("__drop",
            when(ok && !coalesce(f.pred(m), lit(false)), lit(i))
              .otherwise(col("__drop")))
        case mp: MapProcessor =>
          val err = when(ok && mp.errorWhen(m), lit(i)).otherwise(col("__err"))
          val live = col("__drop").isNull && err.isNull
          val m2 = mp.fn(m)
          df = df.select(
            when(live, m2.key).otherwise(col("key")).as("key"),
            when(live, m2.value).otherwise(col("value")).as("value"),
            when(live, m2.num).otherwise(col("num")).as("num"),
            col("__orig"), col("__drop"), err.as("__err"))
      }
    }

    // error_step → DLQ topic name; no DLQ configured ⇒ error sink
    // (reference src/consumer.js:96-103: dlq[i] nullable).
    val dlqTopic = steps.zipWithIndex.foldLeft(lit(Routing.Error): Column) {
      case (acc, (Step(_, Some(t)), i)) => when(col("__err") === i, lit(t)).otherwise(acc)
      case (acc, _) => acc
    }
    val topic = when(col("__err").isNotNull, dlqTopic)
      .when(col("__drop").isNotNull, lit(Routing.Dropped))
      .otherwise(lit(target))

    val isErr = col("__err").isNotNull
    val routed = df.select(
      topic.as("topic"),
      when(isErr, col("__orig.key")).otherwise(col("key")).as("key"),
      when(isErr, col("__orig.value")).otherwise(col("value")).as("value"),
      when(isErr, col("__orig.num")).otherwise(col("num")).as("num"),
      col("__err").as("error_step"),
      col("__drop").as("dropped_step"))
    RoutedMessages(routed, target, errorSinkSteps)
  }

  private def errorSinkSteps: Seq[Int] =
    steps.indices.filter(i => !steps(i).processor.isFilter && steps(i).dlq.isEmpty)

  /** Routed DataFrame instrumented with the reference's conservation
    * metrics (reference src/metrics.js:5-45):
    * received = completed + dlq + dropped + error.
    * Reads back via `org.apache.spark.sql.Observation` on an action, or
    * the streaming `QueryProgressEvent.observedMetrics`.
    *
    * There are `steps + 1` distinct aggregates, all integer compares: the
    * rows received, and per step the rows it stopped (a map step errors
    * them, a filter drops them; a row stops at most once). Every counter
    * is an exact integer expression over those, so conservation holds by
    * construction: rows_in(i) = received - Σ_{j<i} stopped(j), and since
    * no DLQ topic may equal the target or a sentinel, completed/dlq/
    * dropped/error are the survivors and the stopped rows by step kind
    * and DLQ slot. Spark's observation accumulator updates one slot per
    * occurrence of an aggregate in a counter, for every row, so each
    * counter names each count at most once.
    * Per-step labels follow the reference's {processor_name/step}
    * (src/metrics.js); sub-expression timing has no Spark equivalent,
    * documented deviation (SURVEY §7.3).
    */
  def observed(input: DataFrame, name: String = "pipeline_metrics"): RoutedMessages = {
    val r = apply(input)
    val received = count(lit(1))
    val stopped = steps.zipWithIndex.map { case (Step(p, _), i) =>
      count(when(col(if (p.isFilter) "dropped_step" else "error_step") === i, 1))
    }
    def total(cs: Seq[Column]): Column = cs.reduceOption(_ + _).getOrElse(lit(0L))
    def stoppedWhere(pick: Step => Boolean): Column =
      total(steps.indices.filter(i => pick(steps(i))).map(stopped))
    val rowsIn = steps.indices.map(i => stopped.take(i).foldLeft(received)(_ - _))
    val perStep = steps.zipWithIndex.flatMap { case (Step(p, _), i) =>
      Seq(
        rowsIn(i).as(s"step_${i}_${p.name}_rows_in_total"),
        (if (p.isFilter) lit(0L) else stopped(i)).as(s"step_${i}_${p.name}_errors_total"),
        (if (p.isFilter) stopped(i) else lit(0L)).as(s"step_${i}_${p.name}_dropped_total"))
    }
    val counters = Seq(
      received.as("messages_received_total"),
      // Σ rows_in(i), naming each count once
      steps.indices.dropRight(1).foldLeft(received * steps.length) { (acc, j) =>
        acc - stopped(j) * (steps.length - 1 - j)
      }.as("processors_applied_total"),
      stopped.foldLeft(received)(_ - _).as("messages_completed_total"),
      stoppedWhere(s => !s.processor.isFilter && s.dlq.isDefined).as("messages_dlq_total"),
      stoppedWhere(_.processor.isFilter).as("messages_dropped_total"),
      stoppedWhere(s => !s.processor.isFilter && s.dlq.isEmpty).as("messages_error_total")) ++
      perStep
    val obsDf = r.df.observe(name, counters.head, counters.tail: _*)
    r.copy(df = obsDf)
  }
}

object Pipeline {
  /** Build from catalog-style step ids, mirroring
    * `steps: {processors: [...], dlq: [...]}` parallel arrays
    * (reference scripts/pipelines/insertTestPipelines.js:23,32,41).
    */
  def fromNames(processors: Seq[String], dlq: Seq[Option[String]],
      target: String = "target"): Pipeline = {
    require(dlq.isEmpty || dlq.length == processors.length,
      "steps.processors and steps.dlq must be parallel arrays")
    val dlqs = if (dlq.isEmpty) Seq.fill(processors.length)(None) else dlq
    Pipeline(processors.zip(dlqs).map { case (n, d) => Step(Processors(n), d) }, target)
  }
}
