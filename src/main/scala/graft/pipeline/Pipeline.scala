package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  val parseNum: MapProcessor =
    // ParseLong is try_cast(value as bigint) in one pass, without the
    // exception try_cast throws and catches for every non-numeric value
    MapProcessor("parseNum")(
      m => m.copy(num = ParseLong(m.value)),
      errorWhen = m => ParseLong(m.value).isNull)

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
  * whose errored rows go to the error sink, and [[Pipeline.Poison]] when
  * the input may hold messages that did not decode.
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
    val r = route(input, poison = None)
    r.copy(df = r.df.drop("__route"))
  }

  private def mapSteps: Seq[Int] = steps.indices.filter(i => !steps(i).processor.isFilter)
  private def filterSteps: Seq[Int] = steps.indices.filter(i => steps(i).processor.isFilter)
  private def errorSinkSteps: Seq[Int] = mapSteps.filter(i => steps(i).dlq.isEmpty)

  /** The chain carries one int per row, `__stop`: null while the row is
    * live, else the step that stopped it (a map step errors it, a filter
    * drops it) or [[Pipeline.Poison]] for a message that never decoded,
    * which enters already errored and skips every step. The routed frame
    * also carries its route class `__route`, with `steps.length` for a
    * completed row, for the observation.
    */
  private def route(input: DataFrame, poison: Option[Column]): RoutedMessages = {
    val stop = col("__stop")
    val live = stop.isNull
    val poisoned = poison.map(_ => Pipeline.Poison).toSeq
    // the pre-chain message, which errored rows carry to their DLQ
    val original = Seq(col("key").as("__key0"), col("value").as("__value0"), col("num").as("__num0"))
    var df = input.select(Seq(col("key"), col("value"), col("num")) ++ original :+
      poison.fold(lit(null).cast("int"))(when(_, lit(Pipeline.Poison))).as("__stop"): _*)

    steps.zipWithIndex.foreach { case (Step(p, _), i) =>
      val m = Msg(col("key"), col("value"), col("num"))
      p match {
        case f: FilterProcessor =>
          // SQL filter semantics: a NULL predicate drops the row (like
          // df.filter). Without the coalesce, when(live && !null, ...)
          // would fall through and silently KEEP null-predicate rows.
          df = df.withColumn("__stop",
            when(live && !coalesce(f.pred(m), lit(false)), lit(i)).otherwise(stop))
        case mp: MapProcessor =>
          val stopped = when(live && mp.errorWhen(m), lit(i)).otherwise(stop)
          val m2 = mp.fn(m)
          df = df.select(
            when(stopped.isNull, m2.key).otherwise(col("key")).as("key"),
            when(stopped.isNull, m2.value).otherwise(col("value")).as("value"),
            when(stopped.isNull, m2.num).otherwise(col("num")).as("num"),
            col("__key0"), col("__value0"), col("__num0"), stopped.as("__stop"))
      }
    }

    def stoppedAt(at: Seq[Int]): Column =
      if (at.isEmpty) lit(false) else stop.isin(at: _*)
    val errored = stoppedAt(poisoned ++ mapSteps)
    // stop step → topic: its DLQ, the error sink (no DLQ configured,
    // reference src/consumer.js:96-103: dlq[i] nullable) or dropped
    val stopTopics = poisoned.map(_ -> Routing.Error) ++
      steps.zipWithIndex.map { case (Step(p, dlq), i) =>
        i -> (if (p.isFilter) Routing.Dropped else dlq.getOrElse(Routing.Error))
      }
    val topic = if (stopTopics.isEmpty) lit(target) else stopTopics.init
      .foldLeft(when(live, lit(target))) { case (acc, (k, t)) => acc.when(stop === k, lit(t)) }
      .otherwise(lit(stopTopics.last._2))
    val routed = df.select(
      topic.as("topic"),
      when(errored, col("__key0")).otherwise(col("key")).as("key"),
      when(errored, col("__value0")).otherwise(col("value")).as("value"),
      when(errored, col("__num0")).otherwise(col("num")).as("num"),
      when(errored, stop).as("error_step"),
      when(stoppedAt(filterSteps), stop).as("dropped_step"),
      coalesce(stop, lit(steps.length)).as("__route"))
    RoutedMessages(routed, target, poisoned ++ errorSinkSteps)
  }

  /** Routed DataFrame instrumented with the reference's conservation
    * metrics (reference src/metrics.js:5-45):
    * received = completed + dlq + dropped + error.
    * Reads back via `org.apache.spark.sql.Observation` on an action, or
    * the streaming `QueryProgressEvent.observedMetrics`.
    *
    * Every counter is one [[RouteCount]] aggregate over the row's route
    * class (−1 for a message that never decoded, i for a row stopped at
    * step i, `steps.length` for a completed one), or the constant 0 where
    * the step kinds rule it out. A row has exactly one class and every
    * class maps to exactly one of completed/dlq/dropped/error (no DLQ
    * topic may equal the target or a sentinel), so conservation holds by
    * construction, and rows_in(i) counts the classes ≥ i. Spark's
    * observation accumulator updates one slot per aggregate occurrence
    * for every row, so no counter is a sum of other counts.
    * Per-step labels follow the reference's {processor_name/step}
    * (src/metrics.js); sub-expression timing has no Spark equivalent,
    * documented deviation (SURVEY §7.3).
    */
  def observed(input: DataFrame, name: String = "pipeline_metrics"): RoutedMessages =
    observe(route(input, poison = None), name)

  /** [[observed]] over decoded messages where `poison` marks the ones that
    * did not decode: they route to the error sink and count as received
    * and errored, and as no step's input.
    */
  private[graft] def observedWithPoison(input: DataFrame, poison: Column): RoutedMessages =
    observe(route(input, Some(poison)), "pipeline_metrics")

  private def observe(r: RoutedMessages, name: String): RoutedMessages = {
    val classes = -1 to steps.length
    // a counter weighs each route class; one weighing none is constant
    def counter(weight: Int => Long): Column =
      if (classes.forall(weight(_) == 0)) lit(0L)
      else RouteCount(col("__route"), classes.map(weight))
    def rowsOf(cs: Seq[Int]): Column = counter(c => if (cs.contains(c)) 1L else 0L)
    val perStep = steps.zipWithIndex.flatMap { case (Step(p, _), i) =>
      Seq(
        counter(c => if (c >= i) 1L else 0L).as(s"step_${i}_${p.name}_rows_in_total"),
        rowsOf(if (p.isFilter) Nil else Seq(i)).as(s"step_${i}_${p.name}_errors_total"),
        rowsOf(if (p.isFilter) Seq(i) else Nil).as(s"step_${i}_${p.name}_dropped_total"))
    }
    val counters = Seq(
      counter(_ => 1L).as("messages_received_total"),
      // a row stopped at step i ran i + 1 processors, a completed one all
      counter(c => math.min(c + 1, steps.length).toLong).as("processors_applied_total"),
      rowsOf(Seq(steps.length)).as("messages_completed_total"),
      rowsOf(mapSteps.filter(i => steps(i).dlq.isDefined)).as("messages_dlq_total"),
      rowsOf(filterSteps).as("messages_dropped_total"),
      rowsOf(r.errorSinkSteps).as("messages_error_total")) ++
      perStep
    r.copy(df = r.df.observe(name, counters.head, counters.tail: _*).drop("__route"))
  }
}

object Pipeline {
  /** The stop step of a message that never decoded: before step 0. */
  private[graft] val Poison: Int = -1

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
