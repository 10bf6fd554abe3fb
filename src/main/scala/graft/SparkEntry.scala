package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.tables.Tables
import graft.pipeline.{Pipeline, Processors, Step}
import graft.functions.{Aggregators, TextFunctions => T, VectorFunctions => V}
import graft.operators.{AsofJoin, Dedup, Similarity, Skew}
import graft.multimodal.Multimodal

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), with a DuckDB-equivalent `oracleSql` for everything
  * SQL-expressible. Column names are aliased identically on both sides
  * (the driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship: the reference's core semantics end-to-end — message chain
    * with capitalize → add10 → isEven routing (target vs dropped), over
    * driver data at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("pipe_chain_route")(spark, "/root/testdata/sf0.001")

  // -- helpers -------------------------------------------------------------

  private def msgs(s: SparkSession, dir: String): DataFrame = Tables.messages(s, dir)

  /** The deterministic HTML wrapper injected around each document for
    * text_html_extract / pipeline_crawl_prep (the corpus is plain text);
    * `htmlInjectSql` is its oracle-side twin — keep them in sync.
    */
  private lazy val crawlHtml: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>T</title><style type=\"text/css\">body{color:red}</style>"),
    lit("<script>if (1 < 2 && x) { alert('hi'); }</script></head><body>"),
    lit("<!-- c1 --><h1 class=\"big\">Doc "), col("doc_id").cast("string"),
    lit("</h1><p>"), col("text"),
    lit("</p><br/>Tom &amp; Jerry &lt;3&nbsp;&quot;q&quot; &#39;s&#39; &amp;lt;keep</body></html>"))

  private def runPipe(p: Pipeline, in: DataFrame): DataFrame =
    p(in).df.select("topic", "key", "value", "num")

  /** The four-line derivation of the canonical message shape, repeated in
    * every pipeline oracle.
    */
  private val msgSql =
    "SELECT event_id::VARCHAR AS key, event_type AS value, user_id AS num FROM events"

  // -- queries -------------------------------------------------------------

  /** Bench-only entries: shapes whose CONTRACTS are oracle-checked at
    * small parameters in `queries`, but whose large-parameter COST
    * SHAPE is what the benchmark must witness (no SQL-expressible
    * oracle at this size — a 256-round greedy unroll is not a DuckDB
    * query). Verify skips these; Bench runs them alongside `queries`.
    */
  lazy val benchQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_kcenter_t256" -> ((s, dir) =>
      // the large-t k-center regime: 256 traversal rounds carrying the
      // checkpointed __dmin column (O(t·N) — each round's plan folds
      // ONE new sqDist, plan-asserted in PlanShapeSpec) and assignment
      // through the single native NearestCenter expression node (the
      // HOF fold's 256 subtrees would pay linear plan-analysis time —
      // the PqEncode lesson). Correctness at small t is the
      // sample_kcenter oracle; this entry keeps the t-regime's cost
      // measured every round.
      graft.operators.Sampling.kCenterSelect(
        Tables.embeddings(s, dir), "vec_id", "embedding", t = 256)),
    "sample_kcenter_par_t256" -> ((s, dir) => {
      // the OVERSAMPLED route to the same t=256 coreset regime
      // (k-means|| — Bahmani et al. 2012): 5 sampling scans + a
      // driver-side greedy reduction instead of 256 sequential
      // farthest-point scans — the face that makes coresets of
      // thousands affordable. Covering-radius-vs-greedy contract is
      // spec-checked (SamplingSpec); this entry keeps the cost shape
      // measured against sample_kcenter_t256 every round.
      val emb = Tables.embeddings(s, dir)
      val centers = graft.operators.Sampling.kCenterParCenters(
        emb, "vec_id", "embedding", t = 256, rounds = 5, oversample = 2.0)
      graft.operators.Sampling.kCenterAssign(
        emb, "vec_id", "embedding", centers)
    }),
    "table_delete_staged" -> ((s, dir) => {
      // the LARGE-FRACTION delete regime: a lineitem-sized Hive table
      // (16 partitions) loses ~1/3 of its rows across EVERY partition,
      // so the rewrite takes the staged-swap path — kept rows stream to
      // `_staged` once (no checkpoint of the kept set), then 16
      // metadata renames. Correctness is TablesSpec + the
      // pipeline_takedown_all table row; this entry keeps the rewrite's
      // cost shape measured every round (the table build pays full
      // harness price inside the timed lambda, like the takedown entry,
      // by bench design).
      import s.implicits._
      val base = s"${System.getProperty("java.io.tmpdir")}/graft-bench-tbldel"
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), (col("l_orderkey") % 16).as("p"))
        .write.mode("overwrite").partitionBy("p").parquet(base)
      val victims = Tables.lineitem(s, dir)
        .select(col("l_partkey")).filter(col("l_partkey") % 3 === 0)
        .distinct()
      val deleted = graft.tables.Tables.deleteMatching(
        s, base, "p", victims, "l_partkey")
      Seq((deleted, s.read.parquet(base).count()))
        .toDF("deleted", "remaining")
    }))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- reference processor library (SURVEY §2.1 T1-T4, F1, P1-P3) ----
    "pipe_add10" -> ((s, dir) =>
      Pipeline(Seq(Step(Processors.add10)))(msgs(s, dir)).toTarget),
    "pipe_append_string" -> ((s, dir) =>
      Pipeline(Seq(Step(Processors.appendString)))(msgs(s, dir)).toTarget),
    "pipe_capitalize" -> ((s, dir) =>
      Pipeline(Seq(Step(Processors.capitalize)))(msgs(s, dir)).toTarget),
    "pipe_reverse_string" -> ((s, dir) =>
      Pipeline(Seq(Step(Processors.reverseString)))(msgs(s, dir)).toTarget),
    "pipe_is_even" -> ((s, dir) =>
      Pipeline(Seq(Step(Processors.isEven)))(msgs(s, dir)).toTarget),
    "pipe_chain_route" -> ((s, dir) =>
      runPipe(Pipeline(Seq(Step(Processors.capitalize), Step(Processors.add10),
        Step(Processors.isEven))), msgs(s, dir))),
    "pipe_dlq_route" -> ((s, dir) => {
      // value numeric for 1/3 of rows; parseNum errors on the rest → DLQ
      // carries the ORIGINAL message (reference src/consumer.js:100)
      val in = msgs(s, dir).withColumn("value",
        when(col("key").cast("long") % 3 === 0, col("num").cast("string"))
          .otherwise(col("value")))
      runPipe(Pipeline(Seq(Step(Processors.parseNum, Some("dlq_parse")),
        Step(Processors.add10))), in)
    }),
    "pipe_error_route" -> ((s, dir) => {
      // parseNum with NO dlq configured: errored rows fall through to the
      // __error__ sink carrying the ORIGINAL message — P4 semantics
      // (reference src/consumer.js:142-150, dlq[i] null)
      val in = msgs(s, dir).withColumn("value",
        when(col("key").cast("long") % 3 === 0, col("num").cast("string"))
          .otherwise(col("value")))
      runPipe(Pipeline(Seq(Step(Processors.parseNum), Step(Processors.add10))), in)
    }),

    // ---- relational surface (SURVEY §2.3 — Catalyst-native) ----
    "q1_pricing" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))),
    "q_top_revenue" -> ((s, dir) => {
      // aggregate orders BEFORE the join: shrinks the shuffled side from
      // |orders| to |customers with orders| — the right shape at 100 TB
      val rev = Tables.orders(s, dir).groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("revenue"))
      Tables.customer(s, dir)
        .join(rev, col("c_custkey") === col("o_custkey"))
        .select(col("c_custkey"), col("c_name"), col("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(10)
    }),
    "q_regional_revenue" -> ((s, dir) => {
      // small dims broadcast; fact joins shuffle on their keys
      val asia = broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA"))
      val nat = broadcast(Tables.nation(s, dir))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(asia, col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
    }),
    "q6_forecast" -> ((s, dir) =>
      // TPC-H Q6 shape: tight range predicates folded into one scan
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.05) && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))),
    "q_returned_items" -> ((s, dir) =>
      // TPC-H Q10 shape: returned lineitems joined back to customers
      Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)),
    "q_window_top_order" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),
    "q_running_total" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 2).as("running_total"))
    }),
    "q_anti_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")),
    "q_semi_join" -> ((s, dir) =>
      Tables.part(s, dir).filter(col("p_size") > 40)
        .join(Tables.lineitem(s, dir), col("p_partkey") === col("l_partkey"), "left_semi")
        .select("p_partkey", "p_name")),
    "q_except" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select("user_id")
        .except(ev.filter(col("event_type") === "error").select("user_id"))
    }),
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))),
    "q_distinct_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("distinct_parts"),
          countDistinct(col("l_suppkey")).as("distinct_supps"))),
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .select((get_json_object(col("props"), "$.k").cast("long") % 10).as("k_bucket"))
        .groupBy("k_bucket").agg(count(lit(1)).as("n"))),
    "q_hourly_events" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_value"))),
    "q_shipping_priority" -> ((s, dir) => {
      // TPC-H Q3 shape: filtered 3-way join, aggregate, top 10 by revenue
      val cutoff = lit("1996-03-15").cast("timestamp")
      Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") < cutoff)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .filter(col("l_shipdate") > cutoff)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    }),
    "q_scalar_subquery" -> ((s, dir) => {
      Tables.part(s, dir).createOrReplaceTempView("part_sq")
      s.sql("""SELECT p_partkey, p_name, round(p_retailprice, 2) AS price
               FROM part_sq
               WHERE p_retailprice > 1.5 * (SELECT avg(p_retailprice) FROM part_sq)""")
    }),
    "q_correlated_exists" -> ((s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders_ce")
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_ce")
      // orders where some line shipped at >40 quantity — correlated EXISTS,
      // decorrelated by Catalyst into a semi join
      s.sql("""SELECT o_orderkey, round(o_totalprice, 2) AS total
               FROM orders_ce
               WHERE EXISTS (SELECT 1 FROM lineitem_ce
                             WHERE l_orderkey = o_orderkey AND l_quantity > 40)""")
    }),
    "pipe_json_codec" -> ((s, dir) => {
      // the chain over a JSON-serialized stream: serialize → decode →
      // chain → re-serialize — S2/E1 with the JSON codec instead of Avro
      val schema = org.apache.spark.sql.types.StructType
        .fromDDL("key STRING, value STRING, num INT")
      val wire = msgs(s, dir)
        .select(to_json(struct(col("key"), col("value"), col("num"))).as("body"))
      val decoded = wire.select(from_json(col("body"), schema).as("m"))
        .select("m.key", "m.value", "m.num")
      Pipeline(Seq(Step(Processors.capitalize), Step(Processors.add10)))(decoded).toTarget
    }),
    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("sum_price"))),
    "q_grouping_sets" -> ((s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql("""SELECT l_returnflag, l_linestatus, count(*) AS n
               FROM lineitem_gs
               GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""")
    }),
    "q_pivot" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum("l_quantity"), 2))),
    "q_percentile" -> ((s, dir) =>
      // distributed exact quantiles (range sort + flanking-row lookup),
      // NOT the percentile aggregate, which buffers all values in one
      // aggregation state and cannot survive 100 TB
      graft.operators.Quantiles.exactQuantiles(
        Tables.lineitem(s, dir), "l_extendedprice", Seq(0.25, 0.5, 0.75))
        .select(col("q"), round(col("value"), 4).as("price_q"))),
    "q_stats" -> ((s, dir) =>
      Tables.lineitem(s, dir).groupBy("l_returnflag").agg(
        (round(corr(col("l_quantity"), col("l_extendedprice")), 6) + lit(0.0)).as("corr_qty_price"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_qty_price"))),
    "q_union" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select("user_id")
        .union(ev.filter(col("event_type") === "error").select("user_id"))
        .distinct()
    }),
    "q_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase").select("user_id")
        .intersect(ev.filter(col("event_type") === "error").select("user_id"))
    }),
    "q_full_outer" -> ((s, dir) => {
      // customers without orders AND order-years without customers both
      // survive — full outer on an aggregated side
      val byYear = Tables.orders(s, dir)
        .groupBy(col("o_custkey"), year(col("o_orderdate")).as("order_year"))
        .agg(round(sum("o_totalprice"), 2).as("year_total"))
      Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
        .join(byYear, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_mktsegment"), col("order_year"),
          col("year_total"))
    }),
    "q_map_funcs" -> ((s, dir) =>
      Tables.events(s, dir).select(
        col("event_id"),
        map_from_arrays(
          array(lit("type"), lit("uid")),
          array(col("event_type"), col("user_id").cast("string"))).as("m"))
        .select(col("event_id"),
          element_at(col("m"), "type").as("m_type"),
          element_at(col("m"), "uid").cast("long").as("m_uid"),
          size(map_keys(col("m"))).as("n_keys"))),
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // last purchase value at-or-before each event, per user; purchases
      // pre-deduped on (user, ts) so the as-of match is deterministic
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("purchase_value"))
      AsofJoin.asof(ev.select("event_id", "user_id", "ts"), purchases,
          "user_id", "ts", Seq("purchase_value"))
        .select(col("event_id"), col("user_id"),
          round(col("purchase_value"), 6).as("purchase_value"))
    }),
    "q_asof_forward" -> ((s, dir) => {
      // mirror direction: NEXT purchase at-or-after each event per user
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max("value").as("next_purchase_value"))
      AsofJoin.asofForward(ev.select("event_id", "user_id", "ts"), purchases,
          "user_id", "ts", Seq("next_purchase_value"))
        .select(col("event_id"), col("user_id"),
          round(col("next_purchase_value"), 6).as("next_purchase_value"))
    }),
    "q_range_join" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select("o_custkey", "o_orderkey", "o_orderdate")
      val day = 86400L
      AsofJoin.rangeJoin(o, o, "o_custkey", "o_orderdate",
          before = 30 * day, after = 30 * day, bucketSec = 30 * day)
        .select(col("l_o_orderkey").as("a_orderkey"), col("r_o_orderkey").as("b_orderkey"))
    }),
    "q_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        ntile(4).over(w).as("quartile"),
        rank().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("price_rank"),
        round(percent_rank().over(Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_totalprice"), col("o_orderkey"))), 6).as("price_pctrank"))
    }),
    "q_salted_join" -> ((s, dir) => {
      // event_type has 5 values over every row — the degenerate-skew
      // join shape; salted 8 ways the hot keys spread over 8 tasks
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy("event_type").agg(round(avg("value"), 6).as("type_avg"))
      Skew.saltedJoin(ev.select("event_id", "event_type"), dim,
          "event_type", col("event_id"), nSalts = 8)
        .select("event_id", "event_type", "type_avg")
    }),
    "q_explode_words" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(explode(T.normTokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word")).limit(20)),
    "q_array_agg" -> ((s, dir) =>
      Tables.events(s, dir).groupBy("user_id")
        .agg(array_join(array_sort(collect_set(col("event_type"))), ",").as("types"),
          count(lit(1)).as("n"))),
    "q_date_funcs" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"),
        dayofmonth(col("l_shipdate")).as("ship_day"),
        date_add(col("l_shipdate").cast("date"), 30).as("ship_plus30"),
        datediff(lit("2000-01-01").cast("date"), col("l_shipdate")).as("days_to_2000"))),
    "q_string_funcs" -> ((s, dir) =>
      Tables.part(s, dir).select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        length(col("p_name")).as("name_len"),
        substring(col("p_name"), 1, 8).as("name_pfx"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        element_at(split(col("p_name"), " "), 1).as("first_word"),
        lpad(col("p_brand"), 12, "*").as("brand_pad"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        reverse(col("p_name")).as("name_rev"))),
    "q_math_funcs" -> ((s, dir) =>
      Tables.lineitem(s, dir).select(
        col("l_orderkey"), col("l_linenumber"),
        round(abs(col("l_discount") - 0.05), 6).as("abs_disc"),
        ceil(col("l_quantity")).as("ceil_qty"),
        floor(col("l_quantity")).as("floor_qty"),
        round(sqrt(col("l_extendedprice")), 6).as("sqrt_price"),
        round(log(col("l_extendedprice")), 6).as("ln_price"),
        round(pow(col("l_discount"), 2), 6).as("disc_sq"),
        (col("l_orderkey") % 7).as("mod7"),
        round(greatest(col("l_tax"), col("l_discount")), 6).as("tax_or_disc"))),
    "q_centroid" -> ((s, dir) =>
      Tables.embeddings(s, dir).groupBy("label")
        .agg(Aggregators.vectorCentroid(col("embedding").cast("array<double>"), 64).as("c"))
        .select(col("label"), posexplode(col("c")).as(Seq("dim", "v")))
        // + 0.0 folds IEEE -0.0 (from rounding tiny negatives) into +0.0
        // so the value hashes identically to the oracle's
        .select(col("label"), col("dim"), (round(col("v"), 4) + lit(0.0)).as("centroid"))),
    "q_approx_distinct" -> ((s, dir) =>
      // HLL sketch with a verifiable contract: the sketch's estimate must
      // land within 5% of the exact count (rsd=0.02 ⇒ ~2.5σ margin) — the
      // oracle checks the boolean plus the exact count, turning an
      // approximate op into a hash-matched row
      Tables.lineitem(s, dir).groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), rsd = 0.02).as("__approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("__approx") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.05).as("approx_within_5pct"))),
    "pipeline_user_sequences" -> ((s, dir) =>
      // behavioral-sequence training data: each user's event-type
      // history in (ts, event_id) order — the per-user example builder
      // for recsys / behavior models. ONE user-keyed aggregation with
      // an in-row sort; per-user state is bounded by that user's
      // activity (cap production histories with slice() post-sort)
      // non-null guard on the order keys + payload: sort_array puts NULL
      // structs/fields FIRST while SQL ORDER BY defaults NULLS LAST, and
      // concat_ws drops NULL elements while string_agg skips the row —
      // filtering identically on both sides makes the query
      // engine-equivalent even over a nullable events source
      Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(
          col("ts"), col("event_id"), col("event_type")))).as("__h"))
        .select(col("user_id"), size(col("__h")).as("n_events"),
          md5(concat_ws(",",
            transform(col("__h"), e => e.getField("event_type"))))
            .as("seq_fp"))),
    "q_funnel_windowed" -> ((s, dir) => {
      // conversion-window funnel: each step must land within 72 h of the
      // previous step's first occurrence (the product-analytics form);
      // timestamp + interval arithmetic is exact micros in any engine
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("tv"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("tv") &&
          col("ts") <= col("tv") + expr("INTERVAL 72 HOURS"))
        .groupBy("user_id").agg(min("ts").as("tc"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("tc") &&
          col("ts") <= col("tc") + expr("INTERVAL 72 HOURS"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(broadcast(c.agg(count(lit(1)).as("n_click_72h"))))
        .crossJoin(broadcast(p.agg(count(lit(1)).as("n_purchase_72h"))))
    }),
    "q_anomaly" -> ((s, dir) => {
      // ops-analytics outlier scan: per (event_type, day) counts
      // z-scored against that type's own daily mean/stddev — one
      // day-grain agg (map-side combined), one type-grain agg (bounded
      // by #types), broadcast back; no window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val stats = daily.groupBy("event_type")
        .agg(avg("n").as("mu"), stddev_samp(col("n").cast("double")).as("sd"))
      // gate on the ROUNDED z (not the raw aggregates): avg/stddev
      // summation order differs between engines, so a row at the exact
      // 2σ boundary could flip in/out if the filter saw unrounded values
      daily.join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), col("day"), col("n"),
          round((col("n") - col("mu")) / col("sd"), 4).as("z"))
        .filter(abs(col("z")) > 2)
    }),
    "q_funnel_n" -> ((s, dir) =>
      // the N-step parameterized funnel operator (Funnel.counts) at 4
      // steps — same chained strict-order semantics as q_funnel's
      // unrolled form, each step one user-keyed min-agg + join, no
      // windows; the oracle replays the chain as N CTEs
      graft.operators.Funnel.counts(Tables.events(s, dir),
        "user_id", "event_type", "ts",
        Seq("signup", "view", "click", "purchase"))),
    "q_funnel" -> ((s, dir) => {
      // strictly-ordered 3-step funnel (view → click → purchase): each
      // step's timestamp must FOLLOW the previous step's first
      // occurrence. Three user-keyed min-aggs + user-keyed joins — every
      // agg map-side combined, no window, no self-join blowup
      val ev = Tables.events(s, dir)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("tv"))
      val c = ev.filter(col("event_type") === "click")
        .join(v, Seq("user_id"))
        .filter(col("ts") > col("tv"))
        .groupBy("user_id").agg(min("ts").as("tc"))
      val p = ev.filter(col("event_type") === "purchase")
        .join(c, Seq("user_id"))
        .filter(col("ts") > col("tc"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      val nv = v.agg(count(lit(1)).as("n_view"))
      val nc = c.agg(count(lit(1)).as("n_click_after_view"))
      val np = p.agg(count(lit(1)).as("n_purchase_after_click"))
      nv.crossJoin(broadcast(nc)).crossJoin(broadcast(np))
        .select(col("n_view"), col("n_click_after_view"),
          col("n_purchase_after_click"),
          round(col("n_click_after_view").cast("double") /
            col("n_view"), 6).as("view_to_click"),
          round(col("n_purchase_after_click").cast("double") /
            col("n_click_after_view"), 6).as("click_to_purchase"))
    }),
    "q_retention" -> ((s, dir) => {
      // weekly cohort retention triangle: cohort = a user's first-event
      // week, cell = distinct users active k weeks later. Epoch seconds
      // (floored) so the week arithmetic is integer and engine-exact
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts").cast("long").as("sec"))
      val first = ev.groupBy("user_id").agg(min("sec").as("first_sec"))
      ev.join(first, Seq("user_id"))
        .select(col("user_id"),
          floor((col("first_sec") - lit(1704067200L)) / 604800L)
            .as("cohort_week"),
          floor((col("sec") - col("first_sec")) / 604800L).as("week_offset"))
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
    }),
    "q_sessionize" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n"))),
    "q_sliding_events" -> ((s, dir) =>
      // 1h windows sliding every 30min: each event lands in exactly 2
      // epoch-aligned windows; Spark assigns inside the aggregation, no
      // self-join
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"))),

    // ---- text analysis (north star) ----
    "text_tokens" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), T.tokenCount(col("text")).cast("long").as("n_tokens"))),
    "text_subwords" -> ((s, dir) =>
      // n_segments: the zero-dependency regex estimator (lower bound);
      // n_bpe: REAL merge-loop BPE count from the bundled merges fixture
      // (graft/bpe/merges.txt) — the number token budgets actually use
      Tables.documents(s, dir)
        .select(col("doc_id"),
          T.subwordCount(col("text")).cast("long").as("n_segments"),
          graft.functions.Bpe.bpeCount(col("text")).cast("long").as("n_bpe"))),
    "text_subwords_bytes" -> ((s, dir) =>
      // REAL GPT-2-shape byte-level BPE: segment bytes through the
      // bytes→unicode alphabet, then the merge loop over the byte-level
      // fixture (merges_byte.txt) — the count token budgets should use
      // on non-ASCII corpora, where char-level drifts
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Bpe.bpeCountBytes(col("text")).cast("long").as("n_bpe_bytes"))),
    "text_bpe_train" -> ((s, dir) => {
      // distributed BPE TRAINING (not replay): per-iteration pair-count
      // shuffles + limit(1) argmax, narrow fold application — the driver
      // sees one row per merge. Oracle re-trains in SQL via 6 unrolled
      // count→argmax→apply stages
      import s.implicits._
      graft.tools.TrainBpe.distTrain(Tables.documents(s, dir), "text", 6)
        .zipWithIndex.map { case ((a, b), i) => (i, a, b) }
        .toDF("merge_rank", "lhs", "rhs")
    }),
    "pipeline_shard_stats" -> ((s, dir) =>
      // the shard manifest a packing job ships with its output: docs and
      // token mass per shard (per-shard totals are bounded below by the
      // budget, not above — an oversized doc overflows its shard)
      graft.operators.TrainingData.packShards(
        Tables.documents(s, dir), "doc_id", "text", tokenBudget = 2000)
        .groupBy("shard_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"))),
    "text_line_dedup" -> ((s, dir) =>
      // CCNet/RefinedWeb cross-doc line dedup: a duplicated line survives
      // only at its first (doc, position) occurrence; exact-dup docs lose
      // every line to the original and come back NULL. Digest output
      // keeps the row narrow; the oracle rebuilds the same reassembly.
      graft.operators.TrainingData.dedupLines(
        Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), md5(col("text")).as("text_digest"))),
    "text_span_dedup" -> ((s, dir) =>
      // exact-substring dedup (Lee et al. 2021) at 8-token block
      // granularity: each distinct block survives only at its globally
      // first (doc, block-index) occurrence. Digest output keeps the row
      // narrow; the oracle replays tiling + reassembly.
      graft.operators.TrainingData.dedupSpans(
        Tables.documents(s, dir), "doc_id", "text", k = 8)
        .select(col("doc_id"), md5(col("text")).as("text_digest"))),
    "text_unigram_tokenize" -> ((s, dir) => {
      // SentencePiece-family unigram tokenizer: corpus-seeded piece
      // vocab (chars + top-200 multi-char substrings), then integer
      // micro-nat Viterbi segmentation per doc — exact cross-engine
      // arithmetic, oracle replays the DP in a recursive CTE
      val docs = Tables.documents(s, dir)
      val vocab = graft.operators.UnigramTokenizer.seedVocab(
        docs, "text", maxPieceLen = 4, vocabSize = 200)
      graft.operators.UnigramTokenizer.score(docs, "doc_id", "text", vocab)
    }),
    "text_wordpiece" -> ((s, dir) => {
      // WordPiece greedy longest-match tokenizer: position-split
      // corpus-seeded vocab (start vs continuation pieces), pure string
      // arithmetic — the oracle replays the greedy walk in a recursive
      // CTE and checks the exact segmentation via the pieces digest.
      // COUPLING: maxPieceLen = 4 here must equal the oracle's
      // least(4, …) candidate bound — the engines agree only while the
      // vocab's longest piece ≤ that replay bound
      val docs = Tables.documents(s, dir)
      val (sv, cv) = graft.operators.WordPieceTokenizer.seedVocab(
        docs, "text", maxPieceLen = 4, vocabSize = 200)
      graft.operators.WordPieceTokenizer.encode(docs, "doc_id", "text", sv, cv)
        .select(col("doc_id"), col("n_pieces"),
          md5(col("pieces")).as("pieces_fp"))
    }),
    "text_span_stats" -> ((s, dir) =>
      // corpus duplication profile: fraction of tokens sitting in
      // repeated 8-token blocks — read before paying for the dedup
      graft.operators.TrainingData.spanStats(
        Tables.documents(s, dir), "doc_id", "text", k = 8)),
    "text_span_dedup_sliding" -> ((s, dir) =>
      // sliding-window variant (stride 4 < k=8): catches duplicated
      // spans at any alignment offset >= stride-1 that block tiling
      // misses; non-first window occurrences mark their token range,
      // surviving text = tokens outside all marked ranges
      graft.operators.TrainingData.dedupSpansSliding(
        Tables.documents(s, dir), "doc_id", "text", k = 8, stride = 4)
        .select(col("doc_id"), md5(col("text")).as("text_digest"))),
    "text_quality" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        T.tokenCount(col("text")).cast("long").as("n_tokens"),
        round(T.punctRatio(col("text")), 6).as("punct_ratio"),
        round(T.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        T.qualityScore(col("text")).as("quality"))),
    "text_langid" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), T.langId(col("text")).as("lang_pred"))),
    "text_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), T.fingerprint(col("text")).as("fp"))),

    "text_tfidf" -> ((s, dir) => {
      // tf·idf over whitespace tokens: tf from per-doc explode, df from
      // distinct doc-term pairs — two shuffles, both on the term key.
      // The corpus size folds into the plan as a broadcast 1-row total
      // (like the other crossJoin(broadcast(total)) sites) instead of a
      // driver-side count() — one job per run, not two
      val docs = Tables.documents(s, dir)
      val nTotal = docs.agg(count(lit(1)).cast("double").as("__n"))
      val terms = docs.select(col("doc_id"), explode(T.normTokens(col("text"))).as("term"))
      val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = terms.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(nTotal))
        .select(col("doc_id"), col("term"), col("tf"),
          round(col("tf") * log(col("__n") / col("df")), 6).as("tfidf"))
    }),

    "text_unicode_norm" -> ((s, dir) => {
      // Unicode hygiene: inject decomposed sequences (e+COMBINING ACUTE,
      // u+COMBINING DIAERESIS) and precomposed chars next to the ASCII
      // corpus text — NFC must collapse the decomposed forms and
      // strip_accents must fold all of them; char counts prove the
      // compositions actually happened (not a no-op pass-through)
      import graft.functions.{UnicodeNorm => U}
      val injected = concat(coalesce(col("text"), lit("")), lit(unicodeTail))
      Tables.documents(s, dir)
        .select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"),
          length(col("t")).as("len_raw"),
          length(U.nfc(col("t"))).as("len_nfc"),
          md5(U.nfc(col("t"))).as("nfc_md5"),
          md5(U.stripAccents(col("t"))).as("folded_md5"))
    }),
    "text_cdc_chunks" -> ((s, dir) =>
      // content-defined chunking (LBFS Rabin-boundary rule): boundaries
      // anchor to CONTENT, so chunk dedup survives insertions/shifts
      // that re-align every fixed block; pure scan-side HOFs, no shuffle
      graft.operators.TrainingData.cdcChunks(Tables.documents(s, dir),
        "doc_id", "text", w = 8, maskBits = 6)),
    "text_cdc_dedup" -> ((s, dir) =>
      // cross-doc chunk dedup over CDC boundaries: every distinct chunk
      // survives at its globally first (doc, idx) occurrence, docs
      // reassembled from survivors — byte-level storage-style dedup
      graft.operators.TrainingData.cdcDedup(Tables.documents(s, dir),
        "doc_id", "text", w = 8, maskBits = 6)),
    "text_cdc_dedup_incremental" -> ((s, dir) => {
      // continuous-ingestion chunk dedup: the new batch (ids >= 250)
      // probes the persisted first-occurrence chunk index of the
      // already-ingested corpus — existing text is never re-chunked —
      // and must equal the full-corpus rebuild restricted to the new
      // ids (oracle runs exactly that)
      val docs = Tables.documents(s, dir)
      val index = graft.operators.TrainingData.cdcIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        w = 8, maskBits = 6)
      graft.operators.TrainingData.cdcDedupIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text",
        w = 8, maskBits = 6, index)
    }),
    "text_cdc_deleted" -> ((s, dir) => {
      // takedown on the chunk index: victims (old ids with % 9 = 2)
      // leave via cdcIndexDelete's owner-forgetting semantics — their
      // owned digests are GONE (content evidence removed), so a new doc
      // repeating one is KEPT (dedup under-fires conservatively; a
      // rebuild re-elects surviving owners). The oracle replays exactly
      // that: first-occurrence index over old docs minus victim-owned
      // entries, then the new batch's dedup against it.
      val docs = Tables.documents(s, dir)
      val index = graft.operators.TrainingData.cdcIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text",
        w = 8, maskBits = 6)
      val reduced = graft.operators.TrainingData.cdcIndexDelete(index,
        docs.filter(col("doc_id") % 9 === 2), "doc_id")
      graft.operators.TrainingData.cdcDedupIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text",
        w = 8, maskBits = 6, reduced)
    }),
    "text_bm25" -> ((s, dir) =>
      // Okapi BM25 against a topic probe (one absent term exercises the
      // df=0 no-hit path): the retrieval-grade ranking the frequency-only
      // tfidf surface lacks; per-doc sums in exact integer micro-units
      // so distributed and sequential summation agree bit-for-bit
      graft.operators.TrainingData.bm25(Tables.documents(s, dir),
        "doc_id", "text", query = Seq("spark", "vector", "hash", "zeppelin"))),
    "text_bm25_indexed" -> ((s, dir) => {
      // the persisted-inverted-index probe: build once (postings
      // hash-partitioned on a term bucket, df + stats as exact-integer
      // batch rows), then score the SAME probe without a corpus scan —
      // bit-identical to direct bm25, which is the shared oracle
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-bm25idx"
      graft.operators.TrainingData.bm25IndexWrite(
        Tables.documents(s, dir), "doc_id", "text", idx)
      graft.operators.TrainingData.bm25FromIndex(s, idx, "doc_id",
        query = Seq("spark", "vector", "hash", "zeppelin"))
    }),
    "text_bm25_join" -> ((s, dir) => {
      // batched retrieval: N queries probe the persisted index in ONE
      // job — top-10 docs per query, deterministic rank (round-6 score
      // desc, id asc), duplicate query terms counted once ('spark'
      // twice in q0), an all-absent query (q2) emitting no rows
      import s.implicits._
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-bm25join"
      graft.operators.TrainingData.bm25IndexWrite(
        Tables.documents(s, dir), "doc_id", "text", idx)
      val queries = Seq(
        ("q0", "spark vector hash spark"),
        ("q1", "join merge query group zeppelin"),
        ("q2", "zeppelin qqqq zzzz")).toDF("qid", "qtext")
      graft.operators.TrainingData.bm25TopKJoin(
        s, idx, queries, "qid", "qtext", "doc_id", k = 10)
    }),
    "text_bm25_deleted" -> ((s, dir) => {
      // the takedown face of the retrieval index: two committed delete
      // batches (overlapping victim sets — doc_id % 35 = 17 is in both,
      // so the no-double-subtraction rule is hash-gated too), probed
      // WITHOUT compaction: the negative df/stats deltas fold in and
      // the victims' postings anti-join out. Oracle = direct bm25 over
      // the surviving documents — the same exactness contract as
      // text_bm25_indexed, through the deletion channel.
      val docs = Tables.documents(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-bm25del"
      graft.operators.TrainingData.bm25IndexWrite(docs, "doc_id", "text", idx)
      graft.operators.TrainingData.bm25IndexDelete(
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"), "doc_id", idx)
      graft.operators.TrainingData.bm25IndexDelete(
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"), "doc_id", idx)
      graft.operators.TrainingData.bm25FromIndex(s, idx, "doc_id",
        query = Seq("spark", "vector", "hash", "zeppelin"))
    }),
    "pipeline_training_data" -> ((s, dir) =>
      // the composed product use-case: quality + language + length
      // filters, then exact-dedup survivors — one declarative chain
      graft.operators.TrainingData.prepare(Tables.documents(s, dir),
        "doc_id", "text", minQuality = 0.5, langs = Seq("en"), minTokens = 10)),
    "pipeline_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: corpus docs sharing any word-4-gram
      // with the "eval set" (docs 0-4) — the drop list before training
      val docs = Tables.documents(s, dir)
      graft.operators.TrainingData.decontaminate(
        docs.filter(col("doc_id") >= 5), "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text", n = 4)
    }),
    "pipeline_decontaminate_indexed" -> ((s, dir) => {
      // the repeated-probe face: corpus grams persisted once (bucket-
      // partitioned, g-sorted), the benchmark probes the narrow index
      // without re-tokenizing corpus text — output contractually
      // IDENTICAL to pipeline_decontaminate, which is the shared oracle
      val docs = Tables.documents(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-dcidx"
      graft.operators.TrainingData.decontamIndexWrite(
        docs.filter(col("doc_id") >= 5), "doc_id", "text", idx, n = 4)
      graft.operators.TrainingData.decontaminateFromIndex(
        docs.filter(col("doc_id") < 5), "text", idx, "doc_id")
    }),
    "pipeline_decontaminate_deleted" -> ((s, dir) => {
      // the takedown face of the gram index: victims (doc_id % 9 = 2)
      // staged as one bounded id-list write, probed WITHOUT compaction —
      // the probe anti-joins the victim list, answering exactly as if
      // the index had been built over corpus-minus-victims (the oracle
      // rebuilds precisely that). Physical removal is the compaction's
      // job (DecontamDeletionSpec).
      val docs = Tables.documents(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-dcdel"
      graft.operators.TrainingData.decontamIndexWrite(
        docs.filter(col("doc_id") >= 5), "doc_id", "text", idx, n = 4)
      graft.operators.TrainingData.decontamIndexDelete(
        docs.filter(col("doc_id") % 9 === 2).select("doc_id"), "doc_id", idx)
      graft.operators.TrainingData.decontaminateFromIndex(
        docs.filter(col("doc_id") < 5), "text", idx, "doc_id")
    }),
    "pipeline_takedown_all" -> ((s, dir) => {
      // the corpus-level takedown orchestrator (Takedown.forget): ONE
      // request — every id ≡ 2 (mod 9), across the document, vector,
      // and graph-node key spaces — walks EVERY registered path-based
      // store family through its existing delete face; each store is
      // then physically compacted and probed. The result is one
      // (store, n, checksum) row per store over integer-exact probe
      // reductions, and the oracle recomputes each from a REBUILD /
      // RETRAIN over the surviving corpus — so ONE silently-missed
      // store hash-mismatches its row. (cluster_state / cdc_state are
      // the stream-shaped kinds, orchestrated + rebuild-checked in
      // TakedownSpec; the store builds here pay full harness price
      // inside the timed lambda by bench design.)
      import graft.operators.{Takedown, Classifier, Sampling, TrainingData,
        Graph, Embeddings}
      import graft.operators.Takedown.Store
      val docs = Tables.documents(s, dir)
      val emb = Tables.embeddings(s, dir)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft-bench-takedown"
      val tgt = col("source").isin("src0", "src1")
      // the STREAM-shaped stores, built quiesced in the streams' exact
      // batch layout (static overwrite of batch 0 wipes the prior run's
      // channels; batch 1 lands via dynamic overwrite), so the
      // orchestrated call covers EVERY registered kind in one oracle
      def writeBatch0(df: DataFrame, path: String): Unit =
        df.withColumn("batch_id", lit(0L))
          .write.mode("overwrite").partitionBy("batch_id").parquet(path)
      def writeBatch1(df: DataFrame, path: String): Unit =
        df.withColumn("batch_id", lit(1L))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(path)
      // the THIRTEEN stores are independent (distinct roots), so they
      // build CONCURRENTLY on the orchestrator's own bounded pool —
      // the same independent-store judgment as forget/compactAll/audit;
      // intra-store write ORDER (cdc batch 0 before 1; cluster-state
      // pairs before labels) stays inside each thunk
      Takedown.inParallel(Seq[() => Unit](
        () => Classifier.nbModelWrite(docs, "doc_id", "text", s"$base/nb"),
        () => Sampling.dsirStoreWrite(docs, docs.filter(tgt), "doc_id",
          "text", s"$base/dsir", numBuckets = 256),
        () => TrainingData.bm25IndexWrite(docs, "doc_id", "text",
          s"$base/bm25"),
        () => TrainingData.decontamIndexWrite(docs.filter(col("doc_id") >= 5),
          "doc_id", "text", s"$base/dc", n = 4),
        () => TrainingData.containmentIndexWrite(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
          s"$base/ct", shingleN = 12),
        () => Dedup.jaccardPrefixIndexWrite(docs.filter(col("doc_id") < 250),
          "doc_id", "text", s"$base/jp", shingleN = 5, threshold = 0.7),
        () => Similarity.ivfWriteIndex(emb, "vec_id", "embedding", dim = 64,
          path = s"$base/ivf", nBits = 4, lloydIters = 0),
        // the persisted k-means model WITH its training manifest — the
        // registered kind whose compact retrains over survivors
        () => Embeddings.kmeansModelWrite(emb, "vec_id", "embedding",
          dim = 64, k = 4, iters = 2, s"$base/km"),
        // its PQ-codebook sibling (same ModelStore protocol)
        () => Embeddings.pqModelWrite(emb, "vec_id", "embedding",
          dim = 64, m = 4, k = 8, iters = 2, s"$base/pq"),
        // quarter co-purchase graph: the ONLY SF-scaling store here,
        // and the per-store triangle takedown already measures its
        // full-scale cost shape under graph_triangles_deleted — the
        // orchestrator query needs a real graph, not the biggest one
        () => Graph.trianglesIndexWrite(coPurchaseEdges(s, dir, 4, 0),
          "src", "dst", s"$base/tri"),
        () => {
          val cdc0 = graft.operators.TrainingData.cdcIndex(
            docs.filter(col("doc_id") < 250), "doc_id", "text",
            w = 8, maskBits = 6)
          writeBatch0(cdc0, s"$base/cdc")
          writeBatch1(graft.operators.TrainingData.cdcIndexDelta(
            docs.filter(col("doc_id") >= 250), "doc_id", "text",
            w = 8, maskBits = 6, cdc0), s"$base/cdc")
        },
        () => Frames.scoped { f =>
          // labels closure + pair store read it
          val csPairs = f.checkpoint(Dedup.minhashLsh(docs, "doc_id", "text",
            numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
            estimateSlack = 0.05)
            .select(col("id_a"), col("id_b")))
          writeBatch0(csPairs, s"$base/cs/pairs")
          writeBatch0(Dedup.connectedComponents(csPairs, "id_a", "id_b"),
            s"$base/cs/labels")
          writeBatch0(docs.select(col("doc_id").as("id")),
            s"$base/cs/index")
        },
        // and a plain partitioned table (the GDPR deleteMatching kind)
        () => docs.select(col("doc_id"), (col("doc_id") % 16).as("p"),
            col("source"))
          .write.mode("overwrite").partitionBy("p").parquet(s"$base/tbl")
      ))(_.apply())
      // the request: ids with text from the document space, text-less
      // ids from the vector and node spaces (per id, forget() keeps the
      // non-null text — the count-form stores' drift guards need it).
      // Node victims come from a column-pruned partkey scan, not an
      // edge self-join: ids absent from the graph are harmless no-ops,
      // so over-approximating the node set is free
      val victims = docs.filter(col("doc_id") % 9 === 2)
        .select(col("doc_id").as("id"), col("text"))
        .unionByName(emb.filter(col("vec_id") % 9 === 2)
          .select(col("vec_id").as("id"),
            lit(null).cast("string").as("text")))
        .unionByName(Tables.lineitem(s, dir)
          .select(col("l_partkey").cast("long").as("id"))
          .filter(col("id") % 9 === 2).distinct()
          .select(col("id"), lit(null).cast("string").as("text")))
      val stores = Seq(
        Store("nb_model", s"$base/nb", Map("idCol" -> "doc_id")),
        Store("dsir", s"$base/dsir", Map("idCol" -> "doc_id")),
        Store("bm25", s"$base/bm25", Map("idCol" -> "doc_id")),
        Store("decontam", s"$base/dc", Map("idCol" -> "doc_id")),
        Store("containment", s"$base/ct", Map("idCol" -> "doc_id")),
        Store("jaccard_prefix", s"$base/jp", Map("idCol" -> "doc_id")),
        Store("ivf", s"$base/ivf", Map("idCol" -> "vec_id")),
        Store("kmeans_model", s"$base/km", Map("idCol" -> "vec_id")),
        Store("pq_model", s"$base/pq", Map("idCol" -> "vec_id")),
        Store("triangles", s"$base/tri"),
        // quiesced batch-built stream stores: fold the latest batch too
        Store("cdc_state", s"$base/cdc",
          Map("idCol" -> "doc_id", "includeLatest" -> "true")),
        Store("cluster_state", s"$base/cs",
          Map("includeLatest" -> "true")),
        Store("table", s"$base/tbl",
          Map("idCol" -> "doc_id", "partitionCol" -> "p")))
      // delete → compact → audit-prove, fused into ONE concurrent store
      // walk (on success the same end state as forget(); compactAll();
      // assertForgotten() — stores are independent — but without the two
      // global phase barriers: wall = slowest store's chain, and any
      // non-clean store still fails the query itself, not just the hash)
      Takedown.forgetCompactAssert(victims, stores)
      val sv = docs.filter(col("doc_id") % 9 =!= 2)
      // integer-exact probe reductions (ids, integer counts, and bm25's
      // by-construction-integer micro-units — no float checksums)
      def m(store: String, df: DataFrame, checksum: org.apache.spark.sql.Column)
          : DataFrame =
        df.agg(count(lit(1)).cast("long").as("n"),
          coalesce(sum(checksum), lit(0L)).cast("long").as("checksum"))
          .select(lit(store).as("store"), col("n"), col("checksum"))
      m("nb_model",
        Classifier.nbScoreFromModel(sv, "doc_id", "text", s"$base/nb"),
        col("doc_id") + col("n_tokens_scored") +
          when(col("predicted_pass"), lit(1000000L)).otherwise(lit(0L)))
      .unionByName(m("dsir",
        Sampling.dsirStoreScore(sv, "doc_id", "text", s"$base/dsir"),
        col("doc_id") + col("n_feats")))
      .unionByName(m("bm25",
        TrainingData.bm25FromIndex(s, s"$base/bm25", "doc_id",
          Seq("spark", "vector", "hash", "zeppelin")),
        col("doc_id") + col("n_query_terms_hit") +
          round(col("bm25") * 1e6).cast("long")))
      .unionByName(m("decontam",
        TrainingData.decontaminateFromIndex(
          docs.filter(col("doc_id") < 5), "text", s"$base/dc", "doc_id"),
        col("doc_id") + col("n_overlap_grams")))
      .unionByName(m("containment",
        TrainingData.decontaminateContainmentFromIndex(
          docs.filter(col("doc_id") % 10 === 0)
            .select(col("doc_id").as("eval_id"), col("text")),
          "eval_id", "text", s"$base/ct", "doc_id", threshold = 0.8),
        col("doc_id") + col("eval_id")))
      .unionByName(m("jaccard_prefix",
        Dedup.jaccardJoinPrefixIncremental(
          docs.filter(col("doc_id") >= 250 && col("doc_id") % 9 =!= 2),
          "doc_id", "text", s"$base/jp", threshold = 0.7),
        col("id_a") + col("id_b")))
      .unionByName(m("ivf",
        s.read.parquet(s"$base/ivf/cells"), col("vec_id")))
      // the RETRAINED model must equal a fresh train on exactly the
      // surviving vectors: assignment probe (the engine-replicable
      // round-6/round-9 recipe) + the manifest's survivor ledger
      .unionByName(m("kmeans_model",
        Embeddings.kmeansModelAssign(emb.filter(col("vec_id") % 9 =!= 2),
          "vec_id", "embedding", s"$base/km"),
        col("vec_id") + col("cluster")))
      .unionByName(m("kmeans_model_manifest",
        Embeddings.kmeansModelPresentIds(s, s"$base/km"), col("id")))
      // PQ twin: the retrained codebooks' ENCODE of every surviving
      // vector (per-row code sum — each code is a round-6 L2 argmin
      // against the survivor-trained codebooks, so a skipped retrain
      // mismatches), plus its manifest ledger
      .unionByName(m("pq_model",
        Embeddings.pqModelEncode(emb.filter(col("vec_id") % 9 =!= 2),
          "vec_id", "embedding", s"$base/pq"),
        col("vec_id") + aggregate(col("codes"), lit(0L),
          (a, x) => a + x.cast("long"))))
      .unionByName(m("pq_model_manifest",
        Embeddings.pqModelPresentIds(s, s"$base/pq"), col("id")))
      .unionByName(m("triangles",
        Graph.trianglesFromIndex(s, s"$base/tri"),
        col("id") + col("triangles")))
      .unionByName(m("cdc_state",
        // physically compacted: the raw rows ARE the survivor index
        s.read.parquet(s"$base/cdc").select(col("doc_id"), col("chunk_idx")),
        col("doc_id") + col("chunk_idx")))
      .unionByName(m("cluster_state",
        graft.streaming.StreamingOps.currentClusterLabels(s,
          s"$base/cs/labels"),
        col("id") + col("cluster_id")))
      .unionByName(m("table",
        s.read.parquet(s"$base/tbl").select("doc_id"), col("doc_id")))
    }),
    "pipeline_decontaminate_bloom" -> ((s, dir) => {
      // the scale path for big eval unions: bloom prefilter in the scan
      // projection + exact confirm join — answer IDENTICAL to
      // pipeline_decontaminate (bloom FPs are confirmed away), so both
      // share one oracle
      val docs = Tables.documents(s, dir)
      graft.operators.TrainingData.decontaminateBloom(
        docs.filter(col("doc_id") >= 5), "doc_id", "text",
        docs.filter(col("doc_id") < 5), "text", n = 4)
    }),
    "pipeline_curation_report" -> ((s, dir) =>
      // the per-source corpus report card a curation pass starts from:
      // doc/token counts, mean heuristic quality, gopher pass rate,
      // English share — ONE map-side-combined aggregation over the scan
      Tables.documents(s, dir)
        .select(col("source"), col("text"),
          T.tokenCount(col("text")).cast("long").as("__nt"),
          T.qualityScore(col("text")).as("__q"),
          T.langId(col("text")).as("__lang"),
          T.gopherPass(col("text")).as("__gp"))
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          count(col("text")).as("n_docs_text"),
          coalesce(sum("__nt"), lit(0L)).as("total_tokens"),
          // mean via an exact integer micro-unit sum: double addition is
          // order-sensitive across partitions and the 6th decimal flips
          // run-to-run; per-doc micro rounding makes the sum exact and
          // order-free, so the mean is bit-reproducible by any engine
          round(sum(round(col("__q") * 1e6).cast("long")).cast("double") /
            count(col("__q")) / 1e6, 6).as("avg_quality"),
          sum(when(col("__gp"), 1L).otherwise(0L)).as("n_gopher_pass"),
          sum(when(col("__lang") === "en", 1L).otherwise(0L)).as("n_en"))),
    "pipeline_curation_overlap" -> ((s, dir) => {
      // the cross-source dedup-pressure companion to the curation
      // report: per-source KMV theta sketches over char-5-shingles
      // are PERSISTED once (kilobytes per source), then every
      // source-pair content overlap — union size, shared-shingle
      // estimate, Jaccard — is pure column arithmetic over the two ≤k
      // arrays. At 100 TB this is the only affordable shape: the
      // corpus is scanned once for the sketch table, and all
      // n·(n−1)/2 pair questions (plus every future "does the new
      // crawl overlap source X?") are answered from megabytes with no
      // re-scan. Sketches are canonical KMV (md5 kernel), so the
      // oracle replays every estimate bit-for-bit from the raw text
      import graft.functions.{ThetaSketch => TS}
      val k = 64
      // fixed per-JVM path (see sim_ivf_sq8) — no per-invocation leak
      val skPath = s"${System.getProperty("java.io.tmpdir")}/graft-bench-srcsk"
      // normChars in its OWN projection (the TextFunctions discipline):
      // the shingle builder references its input n+1 times, and an
      // attribute is free while re-running the regex chain per slice
      // is the scan's dominant cost
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("source"), T.normChars(col("text")).as("__chars"))
        .select(col("source"),
          explode(T.charShinglesOfChars(col("__chars"), 5)).as("sh"))
        .groupBy("source").agg(TS.thetaSketch(col("sh"), k).as("sk"))
        .write.mode("overwrite").parquet(skPath)
      val sk = s.read.parquet(skPath)
      val a = sk.select(col("source").as("source_a"), col("sk").as("sa"))
      val b = sk.select(col("source").as("source_b"), col("sk").as("sb"))
      a.join(b, col("source_a") < col("source_b"))
        .select(col("source_a"), col("source_b"),
          round(TS.thetaEstimate(TS.thetaUnion2(col("sa"), col("sb"))), 6)
            .as("est_union"),
          round(TS.thetaIntersect(col("sa"), col("sb")), 6)
            .as("est_shared"),
          round(TS.thetaJaccard(col("sa"), col("sb")), 6)
            .as("jaccard_est"))
    }),
    "pipeline_mixture_plan" -> ((s, dir) =>
      // the per-source budgeting table a pretraining run starts from:
      // weighted sources, 100k-token budget, 2-epoch repeat ceiling —
      // src0 is deliberately over-asked (weight 0.5) so the epoch cap
      // and shortfall arithmetic are exercised; unlisted sources get 0
      graft.operators.Sampling.mixturePlan(
        Tables.documents(s, dir), "source",
        T.tokenCount(col("text")),
        weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.15,
          "src3" -> 0.05, "src99" -> 1.0),
        tokenBudget = 100000L, maxEpochs = 2.0)),
    "pipeline_decontaminate_containment" -> ((s, dir) => {
      // ASYMMETRIC decontamination: training docs CONTAINING an eval
      // doc's shingles (containment |E∩D|/|E| ≥ 0.8 — a quoted short
      // passage scores ~1 here but near 0 on Jaccard); eval side =
      // every 10th id, broadcast. shingleN=12 (~2 words), NOT the dedup
      // paths' 5: this corpus's 5-char vocabulary is ~2k tokens, so
      // 5-shingles match everything (noise p99 0.53, and the candidate
      // join degenerates — measured 19.6s); 12-shingles give a 60k
      // vocabulary, noise p99 0.076, same true pairs, selective join
      val docs = Tables.documents(s, dir)
      graft.operators.TrainingData.decontaminateContainment(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("eval_id"), col("text")),
        "eval_id", "text", shingleN = 12, threshold = 0.8)
    }),
    "pipeline_decontaminate_containment_indexed" -> ((s, dir) => {
      // the repeated-probe face of containment screening: corpus
      // shingles persisted once (bucket-partitioned, tok-sorted), the
      // eval set probes the narrow index — output contractually
      // IDENTICAL to pipeline_decontaminate_containment (shared oracle)
      val docs = Tables.documents(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ctidx"
      graft.operators.TrainingData.containmentIndexWrite(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", idx,
        shingleN = 12)
      graft.operators.TrainingData.decontaminateContainmentFromIndex(
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("eval_id"), col("text")),
        "eval_id", "text", idx, "doc_id", threshold = 0.8)
    }),
    "pipeline_decontaminate_containment_deleted" -> ((s, dir) => {
      // takedown on the containment (shingle) index — same discipline:
      // bounded victim-list delete, probe ≡ index over corpus-minus-
      // victims, compaction spec-gated
      val docs = Tables.documents(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ctdel"
      graft.operators.TrainingData.containmentIndexWrite(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", idx,
        shingleN = 12)
      graft.operators.TrainingData.containmentIndexDelete(
        docs.filter(col("doc_id") % 9 === 2).select("doc_id"), "doc_id", idx)
      graft.operators.TrainingData.decontaminateContainmentFromIndex(
        docs.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id").as("eval_id"), col("text")),
        "eval_id", "text", idx, "doc_id", threshold = 0.8)
    }),
    "pipeline_decontaminate_fuzzy" -> ((s, dir) => {
      // near-dup decontamination: corpus docs whose shingle sets
      // near-duplicate an "eval set" doc (every 10th id) — catches the
      // paraphrased/reformatted contamination the exact n-gram path
      // misses. Threshold/slack mirror dedup_minhash (true matches here
      // sit at jaccard >= 0.93, far above the banding recall floor)
      val docs = Tables.documents(s, dir)
      graft.operators.TrainingData.decontaminateFuzzy(
        docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text",
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5,
        threshold = 0.4, estimateSlack = 0.05)
        .select(col("doc_id"), col("n_bench_matches"),
          round(col("max_jaccard"), 6).as("max_jaccard"))
    }),
    "q_percentile_grouped" -> ((s, dir) =>
      // per-group exact median via the distributed rank+flank shape (the
      // value-buffering percentile aggregate would OOM per group at scale)
      graft.operators.Quantiles.groupedExactQuantile(
        Tables.lineitem(s, dir), Seq("l_returnflag"), "l_extendedprice", 0.5)
        .select(col("l_returnflag"), round(col("quantile"), 4).as("median_price"))),
    "q_approx_quantile" -> ((s, dir) => {
      // sketch quantile (GK/KLL-style approx_percentile) within 1% of the
      // exact median — same contract pattern as q_approx_distinct (HLL)
      val li = Tables.lineitem(s, dir)
      val exact = expr("percentile(l_extendedprice, 0.5)")
      val approx = expr("approx_percentile(l_extendedprice, 0.5, 10000)")
      li.groupBy("l_returnflag").agg(
        round(exact, 4).as("exact_median"),
        (abs(approx - exact) / exact <= 0.01).as("approx_within_1pct"))
    }),
    "text_logprob" -> ((s, dir) =>
      graft.operators.TrainingData.unigramLogProb(
        Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob"),
          col("n_tokens_scored"))),
    "text_bigram_logprob" -> ((s, dir) =>
      // order-2 fluency signal: interpolated bigram LM (λ=0.5 for exact
      // cross-engine arithmetic); catches shuffled-common-words spam the
      // unigram model scores high
      graft.operators.TrainingData.bigramLogProb(
        Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), round(col("avg_logprob2"), 6).as("avg_logprob2"),
          col("n_bigrams_scored"))),
    "text_nb_classifier" -> ((s, dir) =>
      // model-based quality filter: multinomial Naive Bayes trained in
      // ONE aggregation pass on gopher weak labels, scored corpus-wide
      graft.operators.Classifier.naiveBayesQuality(
        Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("label"), col("n_tokens_scored"),
          round(col("nb_score"), 6).as("nb_score"), col("predicted_pass"))),
    "text_nb_incremental" -> ((s, dir) => {
      // persisted-model scoring: train once on the corpus snapshot, score
      // a NEW batch (ids >= 250) against the model — must equal the full
      // corpus-wide run restricted to the batch (oracle runs exactly that)
      val docs = Tables.documents(s, dir)
      val model = graft.operators.Classifier.nbTrain(docs, "doc_id", "text")
      graft.operators.Classifier.nbScore(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", model)
        .select(col("doc_id"), col("label"), col("n_tokens_scored"),
          round(col("nb_score"), 6).as("nb_score"), col("predicted_pass"))
    }),
    "text_nb_unlearned" -> ((s, dir) => {
      // exact machine unlearning on the persisted COUNT-form model:
      // build + append, then two committed takedown batches
      // (overlapping at doc_id % 35 = 17 — the no-double-subtraction
      // rule is hash-gated too); NB's sufficient statistics are
      // integer sums, so subtracting the victims' counts IS retraining
      // without them — which is exactly what the oracle runs
      val docs = Tables.documents(s, dir)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft-bench-nbstore"
      graft.operators.Classifier.nbModelWrite(
        docs.filter(col("doc_id") < 250), "doc_id", "text", path)
      graft.operators.Classifier.nbModelAppend(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", path)
      graft.operators.Classifier.nbModelDelete(
        docs.filter(col("doc_id") % 5 === 2), "doc_id", "text", path)
      graft.operators.Classifier.nbModelDelete(
        docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", path)
      graft.operators.Classifier.nbScoreFromModel(
        docs.filter(col("doc_id") % 5 =!= 2 && col("doc_id") % 7 =!= 3),
        "doc_id", "text", path)
        .select(col("doc_id"), col("label"), col("n_tokens_scored"),
          round(col("nb_score"), 6).as("nb_score"), col("predicted_pass"))
    }),
    "text_nb_compacted" -> ((s, dir) => {
      // the physical-removal half: same build/append/delete history,
      // then nbModelCompact folds it into a fresh base (victim ledger
      // rows and zero-count vocabulary rows leave disk, deltas channel
      // retired) — and scores must be IDENTICAL to the uncompacted
      // read, i.e. the same retrain-over-survivors oracle
      val docs = Tables.documents(s, dir)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft-bench-nbstore-c"
      graft.operators.Classifier.nbModelWrite(
        docs.filter(col("doc_id") < 250), "doc_id", "text", path)
      graft.operators.Classifier.nbModelAppend(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", path)
      graft.operators.Classifier.nbModelDelete(
        docs.filter(col("doc_id") % 5 === 2), "doc_id", "text", path)
      graft.operators.Classifier.nbModelDelete(
        docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", path)
      graft.operators.Classifier.nbModelCompact(s, path)
      graft.operators.Classifier.nbScoreFromModel(
        docs.filter(col("doc_id") % 5 =!= 2 && col("doc_id") % 7 =!= 3),
        "doc_id", "text", path)
        .select(col("doc_id"), col("label"), col("n_tokens_scored"),
          round(col("nb_score"), 6).as("nb_score"), col("predicted_pass"))
    }),
    "text_gopher" -> ((s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        T.tokenCount(col("text")).cast("long").as("n_words"),
        round(T.avgWordLen(col("text")), 6).as("mean_word_len"),
        round(T.typeTokenRatio(col("text")), 6).as("ttr"),
        T.gopherPass(col("text")).as("gopher_pass"))),
    "pipeline_shards" -> ((s, dir) =>
      graft.operators.TrainingData.packShards(
        Tables.documents(s, dir), "doc_id", "text", tokenBudget = 2000)),
    "pipeline_shuffle" -> ((s, dir) =>
      // deterministic global corpus shuffle: stable permutation position
      // per doc under a seed — trainer consumption order, resume-safe
      graft.operators.TrainingData.shufflePositions(
        Tables.documents(s, dir), "doc_id", seed = "r5")),
    "text_bpe_chunks" -> ((s, dir) =>
      // training windows over real token ids: 32-id chunks, 8 ids of
      // overlap — the output rows ARE the training examples. Ids ride
      // as a space-joined CSV string (embed_quantize q_csv precedent):
      // the checker's row sort cannot ingest raw array columns
      graft.operators.TrainingData.chunkTokenIds(
        Tables.documents(s, dir), "doc_id", "text", size = 32, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"),
          array_join(col("token_ids").cast("array<string>"), " ")
            .as("token_ids_csv"),
          col("n_tokens"))),
    "text_token_ids" -> ((s, dir) =>
      // the emission step itself: ordered byte-level BPE vocab ids per
      // doc — what a trainer reads. Oracle replays merges AND the vocab
      // lookup, then reassembles ids in segment order. CSV-joined for
      // the checker (embed_quantize q_csv precedent)
      Tables.documents(s, dir)
        .select(col("doc_id"),
          array_join(
            graft.functions.Bpe.bpeIdsBytes(col("text")).cast("array<string>"),
            " ").as("token_ids_csv"))),
    "pipeline_token_stream" -> ((s, dir) =>
      // GPT-style packing: the corpus as ONE token stream (EOD after
      // each doc), cut into fixed 64-id windows that cross doc
      // boundaries — zero padding waste. Ids ride as CSV (embed_quantize
      // q_csv precedent) so the checker's row sort can ingest them
      graft.operators.TrainingData.packTokenStream(
        Tables.documents(s, dir), "doc_id", "text", size = 64,
        eodId = graft.functions.Bpe.defaultByteVocab.size)
        .select(col("window_idx"),
          array_join(col("token_ids").cast("array<string>"), " ")
            .as("token_ids_csv"),
          col("n_tokens"))),
    "pipeline_bpe_shards" -> ((s, dir) =>
      // shards cut by REAL byte-level BPE token counts — the budget a
      // trainer actually consumes — instead of the whitespace proxy
      graft.operators.TrainingData.packShardsBy(
        Tables.documents(s, dir), "doc_id",
        graft.functions.Bpe.bpeCountBytes(col("text")), tokenBudget = 2000)),
    "pipeline_pack_pairs" -> ((s, dir) =>
      // depth-2 sequence packing: longest doc pairs with shortest;
      // pairs over the 128-token budget split into solo sequences
      graft.operators.TrainingData.packFoldedPairs(
        Tables.documents(s, dir), "doc_id",
        T.tokenCount(col("text")), maxLen = 128L)),
    "text_repetition" -> ((s, dir) =>
      // Gopher repetition signals: duplicate word-2/3-gram fractions and
      // top-unigram fraction — one-pass native expression (bit-equal to
      // the HOF reference forms, TextFunctionsSpec); tokens split ONCE
      // in their own projection
      Tables.documents(s, dir)
        .select(col("doc_id"), T.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), T.repetitionStats(col("toks")).as("r"))
        .select(col("doc_id"),
          round(col("r.dup2_frac"), 6).as("dup2_frac"),
          round(col("r.dup3_frac"), 6).as("dup3_frac"),
          round(col("r.top_token_frac"), 6).as("top_token_frac"))),
    "q_profile" -> ((s, dir) =>
      // one-pass data-quality profile of lineitem: counts, nulls, exact
      // ndv, numeric min/max — single aggregation, then stack-unpivot
      graft.operators.Profiling.profile(Tables.lineitem(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag"))),
    "q_histogram_equidepth" -> ((s, dir) =>
      // skew-proof distribution view: 8 buckets of equal row count over
      // price; rank-exact, no single-task window (two-pass range sort)
      graft.operators.Profiling.equiDepthHistogram(Tables.lineitem(s, dir),
        "l_extendedprice", Seq("l_orderkey", "l_linenumber"), k = 8)
        .select(col("bucket"), col("n_rows"),
          round(col("lo"), 4).as("lo"), round(col("hi"), 4).as("hi"))),
    "q_zorder" -> ((s, dir) =>
      // the Morton key behind writeZOrdered, checkable cross-engine:
      // 16-bit min-max buckets of (l_partkey, l_suppkey) interleaved;
      // NULL key → NULL z on both sides (lineitem keys are non-null —
      // the NULL contract itself is asserted in TablesSpec)
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        Tables.zValue2(col("l_partkey"), 0.0, 20000.0,
          col("l_suppkey"), 0.0, 1000.0).as("z"))),
    "q_zorder3" -> ((s, dir) =>
      // the N-column generalization (zValueN): 3 keys at ⌊48/3⌋ = 16
      // bits each — the shape real tables cluster on (3-4 keys); the
      // oracle replays the same clamp-bucket-interleave arithmetic
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber"),
        Tables.zValueN(Seq(
          (col("l_partkey"), 0.0, 20000.0),
          (col("l_suppkey"), 0.0, 1000.0),
          (col("l_quantity"), 0.0, 64.0))).as("z"))),
    "q_hll_merge" -> ((s, dir) => {
      // MERGEABLE distinct sketches (DataSketches HLL) — the incremental
      // 100 TB distinct-count story: shards/days sketch INDEPENDENTLY
      // (here: odd/even order halves), the fixed-size binary sketches
      // union, and the merged estimate must land within 5% of the exact
      // global distinct — the property that lets a pipeline keep a
      // per-partition sketch column and never re-scan history
      val li = Tables.lineitem(s, dir)
      val half = (p: Int) => li.filter(col("l_orderkey") % 2 === p)
        .agg(hll_sketch_agg(col("l_partkey")).as("sk"))
      val est = half(0).union(half(1))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("__est"))
      val exact = li.agg(countDistinct(col("l_partkey")).as("exact_parts"))
      exact.crossJoin(broadcast(est))
        .select(col("exact_parts"),
          (abs(col("__est") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.05).as("merged_within_5pct"))
    }),
    "q_quantile_merge" -> ((s, dir) => {
      // MERGEABLE quantile sketches — the quantile sibling of
      // q_hll_merge: the two order-parity halves of lineitem sketch
      // INDEPENDENTLY, the bounded sketches merge, and p50/p90 come off
      // the merged sketch with no re-scan. The sketch's canonical form
      // (deterministic power-of-two histogram, QuantileSketch scaladoc)
      // makes merge(sketch(A), sketch(B)) == sketch(A ∪ B) EXACTLY, so
      // the DuckDB oracle replays the merged estimates bit-for-bit from
      // the raw column; accuracy contract: both estimates within
      // spread/64 of the EXACT interpolated quantiles (distributed
      // range-sort path, not the value-buffering percentile aggregate)
      import graft.functions.{QuantileSketch => QS}
      val li = Tables.lineitem(s, dir)
      val halves = li
        .select((col("l_orderkey") % 2).as("half"),
          col("l_extendedprice").cast("double").as("v"))
        .groupBy("half").agg(QS.sketchAgg(col("v")).as("sk"))
      val merged = halves.agg(QS.sketchMerge(col("sk")).as("sk"))
        .select(col("sk.n").as("n_values"),
          round(QS.sketchQuantile(col("sk"), 0.5), 6).as("p50_sketch"),
          round(QS.sketchQuantile(col("sk"), 0.9), 6).as("p90_sketch"))
      val exact = graft.operators.Quantiles.exactQuantiles(
        li, "l_extendedprice", Seq(0.5, 0.9))
        .agg(max(when(col("q") === 0, col("value"))).as("__e50"),
          max(when(col("q") === 1, col("value"))).as("__e90"))
      val spread = li.agg((max(col("l_extendedprice")) -
        min(col("l_extendedprice"))).cast("double").as("__spread"))
      merged.crossJoin(broadcast(exact)).crossJoin(broadcast(spread))
        .select(col("n_values"), col("p50_sketch"), col("p90_sketch"),
          (abs(col("p50_sketch") - col("__e50")) <= col("__spread") / 64)
            .as("p50_within"),
          (abs(col("p90_sketch") - col("__e90")) <= col("__spread") / 64)
            .as("p90_within"))
    }),
    "q_quantile_rollup" -> ((s, dir) => {
      // the rollup face of q_quantile_merge: sketches built at the FINE
      // grain (returnflag × linestatus) merge UP to per-returnflag
      // quantiles — the per-day→per-month telemetry shape; canonical
      // form makes the rolled-up sketch equal a direct per-returnflag
      // sketch, which is what the oracle replays per group
      import graft.functions.{QuantileSketch => QS}
      val li = Tables.lineitem(s, dir)
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(QS.sketchAgg(col("l_extendedprice").cast("double")).as("sk"))
        .groupBy("l_returnflag")
        .agg(QS.sketchMerge(col("sk")).as("sk"))
        .select(col("l_returnflag"), col("sk.n").as("n_values"),
          round(QS.sketchQuantile(col("sk"), 0.5), 6).as("p50"))
    }),
    "q_theta_sets" -> ((s, dir) => {
      // KMV theta sketches — distinct counting WITH SET ALGEBRA, the
      // capability HLL lacks (registers are maxima; max(A) ∧ max(B) says
      // nothing about |A ∩ B|): 1995 vs 1996 active customers sketch in
      // ONE scan/aggregation pass (null-skip conditional sketches, like
      // the conditional countDistincts beside them), then union /
      // intersect / Jaccard / difference estimates are pure column HOFs
      // over the two ≤k arrays. The 60-bit md5 kernel + canonical
      // k-smallest form make every estimate a bit-for-bit DuckDB replay
      import graft.functions.{ThetaSketch => TS}
      val k = 64
      Tables.orders(s, dir)
        .select(year(col("o_orderdate")).as("y"), col("o_custkey").as("c"))
        .agg(
          TS.thetaSketch(when(col("y") === 1995, col("c")), k).as("sa"),
          TS.thetaSketch(when(col("y") === 1996, col("c")), k).as("sb"),
          countDistinct(when(col("y") === 1995, col("c"))).as("exact_a"),
          countDistinct(when(col("y") === 1996, col("c"))).as("exact_b"))
        .select(col("exact_a"), col("exact_b"),
          round(TS.thetaEstimate(col("sa")), 6).as("est_a"),
          round(TS.thetaEstimate(col("sb")), 6).as("est_b"),
          round(TS.thetaEstimate(TS.thetaUnion2(col("sa"), col("sb"))), 6)
            .as("est_union"),
          round(TS.thetaIntersect(col("sa"), col("sb")), 6)
            .as("est_intersect"),
          round(TS.thetaJaccard(col("sa"), col("sb")), 6).as("jaccard_est"),
          round(TS.thetaANotB(col("sa"), col("sb")), 6).as("est_a_not_b"))
    }),
    "q_theta_rollup" -> ((s, dir) => {
      // the rollup face: per-(nation, year) sketches union-merge UP to
      // per-nation distinct-active-customer estimates with no re-scan —
      // and because the KMV form is canonical (k smallest distinct
      // hashes of the value SET), the merged sketch EQUALS a direct
      // per-nation sketch, which is exactly what the oracle replays
      import graft.functions.{ThetaSketch => TS}
      val k = 64
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), year(col("o_orderdate")).as("y"),
          col("o_custkey"))
        .groupBy("n_name", "y")
        .agg(TS.thetaSketch(col("o_custkey"), k).as("sk"))
        .groupBy("n_name")
        .agg(TS.thetaUnion(col("sk"), k).as("sk"))
        .select(col("n_name"),
          round(TS.thetaEstimate(col("sk")), 6).as("est_active_customers"))
    }),
    "q_scd2" -> ((s, dir) =>
      // SCD2 dimension history from the event change stream: one row per
      // VERSION (consecutive identical attribute observations compress),
      // [effective_from, effective_to) + is_current; both windows share
      // one (user) partitioning — a single shuffle
      graft.operators.Scd2.history(Tables.events(s, dir),
        keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
        attrCols = Seq("event_type"))),
    "q_expectations" -> ((s, dir) => {
      // the dbt-test-style contract gate: all four row-level rules fold
      // into ONE aggregation pass; uniqueness is one partial-counted
      // groupBy; the FK check one anti-join. Two rules are deliberately
      // violated by the data (range capped at 30, flag set missing 'R')
      // so nonzero counts are oracle-checked, not just zeros
      import graft.operators.Expectations._
      check(Tables.lineitem(s, dir), Seq(
        NotNull("l_orderkey"),
        InRange("l_quantity", 1.0, 30.0),
        Accepted("l_returnflag", Seq("A", "N")),
        Predicate("discount_le_price",
          col("l_discount") > col("l_extendedprice")),
        Unique(Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("l_orderkey", Tables.orders(s, dir), "o_orderkey")))
    }),
    "q_scd2_lookup" -> ((s, dir) => {
      // the point-in-time dimension lookup SCD2 exists for: each event
      // joined to the version of its user's attribute history valid at
      // the event's own timestamp (equi-join on the key + validity-range
      // filters; ranges tile, so no fan-out — one row per fact)
      val ev = Tables.events(s, dir)
      val hist = graft.operators.Scd2.history(ev,
        keyCols = Seq("user_id"), tsCol = "ts", tieCol = "event_id",
        attrCols = Seq("event_type"))
      graft.operators.Scd2.pointInTime(
        ev.select(col("user_id"), col("event_id"), col("ts")),
        hist, Seq("user_id"), "ts")
        .select(col("event_id"), col("user_id"),
          col("dim_event_type").as("active_type"),
          col("dim_event_id").as("version_id"))
    }),
    "q_key_skew" -> ((s, dir) =>
      // the pre-salting diagnostic: 10 heaviest join keys + global skew
      // summary; per-key counts map-side combined (counting skew doesn't
      // skew), top-N as TakeOrderedAndProject
      graft.operators.Profiling.keySkew(Tables.events(s, dir),
        Seq("user_id"), topN = 10)),
    "q_histogram" -> ((s, dir) =>
      // the value-distribution primitive next to q_profile: 16 equi-width
      // bins over the price range, empty bins present; <= nBins groups
      // after the scan-side bin projection
      graft.operators.Profiling.histogram(Tables.lineitem(s, dir),
        "l_extendedprice", nBins = 16, lo = 0.0, hi = 80000.0)),
    "text_chunks" -> ((s, dir) =>
      // embedding/RAG prep: overlapping 32-token windows, stride 24 —
      // the 1→N expansion stays in the scan projection (PlanShapeSpec)
      graft.operators.TrainingData.chunkTokens(
        Tables.documents(s, dir), "doc_id", "text", size = 32, overlap = 8)),
    "pipeline_ccnet" -> ((s, dir) =>
      // CCNet shape: unigram-LM score → exact quartile buckets →
      // per-bucket deterministic resample (all head, half middle, 10% tail)
      graft.operators.TrainingData.perplexityBuckets(
        Tables.documents(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("bucket"),
          round(col("avg_logprob"), 6).as("avg_logprob"))),
    "text_heavy_hitters" -> ((s, dir) =>
      // exact frequent-token set via MG-candidates + exact recount; the
      // synthetic vocab is tiny so the sketch never decrements here —
      // the decrement path is stress-tested in HeavyHittersSpec
      graft.operators.HeavyHitters.topTokens(
        Tables.documents(s, dir), "text", minFraction = 0.02)),
    "text_boilerplate" -> ((s, dir) =>
      // minDf tuned to the corpus: its near-dup template clusters put the
      // 3-gram df ceiling at ~7-9, so df >= 5 marks the shared-template
      // phrases without marking everything
      graft.operators.TrainingData.boilerplateScore(
        Tables.documents(s, dir), "doc_id", "text", n = 3, minDf = 5)),
    "pipeline_crawl_prep" -> ((s, dir) => {
      // the crawl pipeline end-to-end: raw HTML records → visible text
      // (WebFunctions.htmlToText) → quality/language/length gates →
      // exact-dedup survivors (TrainingData.prepare). The extraction is
      // CHECKPOINTED before prepare: the dedup's winner-join reads the
      // corpus twice, and an inline 11-regex extraction would re-run per
      // scan (measured 4.1 → ~2 s at sf0.1); materialized once, both
      // reads hit the extracted frame
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.WebFunctions.htmlToText(crawlHtml).as("text"))
        .localCheckpoint(true)
        .transform(d => graft.operators.TrainingData.prepare(
          d, "doc_id", "text", minQuality = 0.5, langs = Seq("en"),
          minTokens = 10))
    }),
    "text_html_extract" -> ((s, dir) =>
      // deterministic HTML wrapped around each doc (the corpus is plain
      // text): style/script with content that must vanish WHOLE (the
      // script contains < and &&), a comment, attribute-bearing tags,
      // and the entity set incl. the &amp;lt; ordering trap — the
      // extractor chain is RE2-safe and the oracle replays it exactly
      Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.WebFunctions.htmlToText(crawlHtml).as("t"))
        .select(col("doc_id"), length(col("t")).as("n_chars"),
          md5(col("t")).as("text_fp"))),
    "text_url_normalize" -> ((s, dir) => {
      // URL hygiene on synthetic crawl URLs (mixed-case scheme+host,
      // tracking params, fragment): canonical form + host + registered
      // domain — the dedup/blocklist/per-site-cap keys. `href=Keep.Me`
      // must SURVIVE while `ref=sr_1` is stripped — the anchored-
      // delimiter contract (an unanchored `ref=` would eat `href=`'s
      // tail; r8 verdict finding #1)
      val url = concat(
        lit("HTTPS://User@WWW.Example"), (col("doc_id") % 20).cast("string"),
        lit(".COM/Path/"), col("doc_id").cast("string"),
        lit("?id="), col("doc_id").cast("string"),
        lit("&utm_source=news&Keep=Case&href=Keep.Me&gclid=abc123" +
          "&ref=sr_1&utm_campaign=x#Frag"))
      Tables.documents(s, dir).select(col("doc_id"),
        graft.functions.WebFunctions.urlNormalize(url).as("url_norm"),
        graft.functions.WebFunctions.urlHost(url).as("host"),
        graft.functions.WebFunctions.urlDomain(url).as("domain"))
    }),
    "text_pii" -> ((s, dir) => {
      // deterministic PII injected from doc_id (the synthetic corpus has
      // none), then the scrub chain — counts per type + redacted digest
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com at 10."), (col("doc_id") % 256).cast("string"),
        lit(".0."), (col("doc_id") % 254 + 1).cast("string"),
        lit(" or (415) 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ssn "), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
        lit("-"), lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit("-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      Tables.documents(s, dir)
        .select(col("doc_id"), injected.as("t"))
        .select(col("doc_id") +: (T.piiCounts(col("t")) :+
          md5(T.redactPii(col("t"))).as("redacted_fp")): _*)
    }),
    "sample_mixture" -> ((s, dir) =>
      // data-mixing: keep all English, a quarter of everything else
      graft.operators.Sampling.mixtureSample(Tables.documents(s, dir),
        "lang", "doc_id", Map("en" -> 1.0), defaultFraction = 0.25)
        .select(col("doc_id"), col("lang"))),
    "sample_hash" -> ((s, dir) =>
      graft.operators.Sampling.hashSample(Tables.documents(s, dir), "doc_id", 0.25)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    "sample_kcenter" -> ((s, dir) =>
      // greedy k-center coreset (farthest-point traversal) over the
      // embeddings: 8 spread-maximizing representatives + every vector's
      // assignment — the DIVERSITY sampler (dedup keeps one per
      // near-dup group; this keeps one per REGION). FULL replay: the
      // oracle unrolls all 7 farthest-point rounds and the final argmin
      graft.operators.Sampling.kCenterSelect(
        Tables.embeddings(s, dir), "vec_id", "embedding", t = 8)),
    "sample_kcenter_par" -> ((s, dir) => {
      // the k-means‖ oversampled coreset (Bahmani et al. 2012),
      // hash-gated end to end: the md5 per-(round, id) sampling kernel,
      // the exact integer micro-unit mass, and the driver greedy
      // reduction are each a pure function of the corpus, so the oracle
      // replays the whole construction round for round — sampling
      // rounds, candidate pool, farthest-first reduction — and the full
      // corpus then assigns against the reduced coreset (the
      // sample_kcenter tail). The t=256 bench pair measures the scale
      // shape; this entry hash-gates the algorithm.
      val emb = Tables.embeddings(s, dir)
      val centers = graft.operators.Sampling.kCenterParCenters(
        emb, "vec_id", "embedding", t = 8, rounds = 3, oversample = 2.0)
      graft.operators.Sampling.kCenterAssign(emb, "vec_id", "embedding",
        centers)
    }),
    "sample_kcenter_incremental" -> ((s, dir) => {
      // the frozen-coreset face: traverse on the even half, persist the
      // ordered coreset, score the FULL corpus against it — new rows
      // route into frozen regions with no re-traversal. Full replay:
      // the oracle re-runs the even-half traversal and the all-rows
      // argmin
      val emb = Tables.embeddings(s, dir)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft-bench-kcenter"
      graft.operators.Sampling.kCenterCenters(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", t = 8)
        .write.mode("overwrite").parquet(path)
      graft.operators.Sampling.kCenterAssign(emb, "vec_id", "embedding",
        s.read.parquet(path))
    }),
    "sample_kcenter_extend" -> ((s, dir) => {
      // coreset GROWTH (the ingestion half; sample_kcenter_incremental
      // is the score-only half): the even-half coreset (t=8) is FROZEN,
      // the odd half arrives as a new batch and the traversal continues
      // over it ONLY — each batch row's initial running min is its
      // distance to the nearest frozen center (one projection), then 4
      // greedy rounds add centers where the frozen regions under-cover
      // most; the full corpus assigns against the extended coreset.
      // FULL replay: the oracle unrolls the frozen rounds, the
      // batch-side extension rounds, and the final argmin.
      val emb = Tables.embeddings(s, dir)
      val path = s"${System.getProperty("java.io.tmpdir")}/graft-bench-kcext"
      graft.operators.Sampling.kCenterCenters(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", t = 8)
        .write.mode("overwrite").parquet(path)
      val extended = graft.operators.Sampling.kCenterExtend(
        emb.filter(col("vec_id") % 2 =!= 0), "vec_id", "embedding",
        s.read.parquet(path), tExtra = 4)
      graft.operators.Sampling.kCenterAssign(emb, "vec_id", "embedding",
        extended)
    }),
    "embed_outliers" -> ((s, dir) =>
      // kth-NN outlier scores (Ramaswamy et al. 2000): each vector's
      // round-6 cosine to its 3rd-nearest neighbor — sparse-region rows
      // rank first ascending. Exact yardstick composition; the ANN-join
      // faces give the approximate version at corpus scale
      graft.operators.Similarity.knnOutlierScores(
        Tables.embeddings(s, dir), "vec_id", "embedding", dim = 64, k = 3)),
    "sample_mixture_epochs" -> ((s, dir) => {
      // the plan MATERIALIZED: pipeline_mixture_plan's rates realized as
      // actual repeats — floor(rate) full epochs per doc plus the
      // md5-deterministic fractional remainder, epoch_idx per copy;
      // src0's 2.0-capped rate exercises the multi-epoch path, the
      // sub-1 rates the fractional path, rate-0 sources emit nothing
      val docs = Tables.documents(s, dir)
      val plan = graft.operators.Sampling.mixturePlan(
        docs, "source", T.tokenCount(col("text")),
        weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.15,
          "src3" -> 0.05, "src99" -> 1.0),
        tokenBudget = 100000L, maxEpochs = 2.0)
      graft.operators.Sampling.applyMixturePlan(docs, "source", "doc_id", plan)
        .select(col("doc_id"), col("source"),
          col("epoch_idx").cast("long").as("epoch_idx"))
    }),
    "sample_temperature" -> ((s, dir) =>
      // α=0.5 mixing: sample shares follow sqrt(domain count) — small
      // languages upweighted relative to their raw share; half the
      // corpus kept overall (modulo the ≤1 cap)
      graft.operators.Sampling.temperatureMixture(Tables.documents(s, dir),
        "lang", "doc_id", alpha = 0.5, targetFraction = 0.5)
        .select(col("doc_id"), col("lang"))),
    "sample_stratified" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedSample(
        Tables.documents(s, dir), Seq("lang"), "doc_id", n = 20)
        .select(col("doc_id"), col("lang"))),
    "sample_cap_per_source" -> ((s, dir) =>
      // per-domain flood guard: at most 10 docs per source, keeping the
      // longest (ties → lowest doc_id); bounded top-k agg, no window
      graft.operators.Sampling.capPerGroup(Tables.documents(s, dir),
        Seq("source"), "doc_id", col("n_chars"), n = 10)
        .select(col("doc_id"), col("source"), col("n_chars"))),
    "sample_dsir" -> ((s, dir) => {
      // DSIR importance weights: target domain = sources src0/src1, raw =
      // whole corpus; hashed word-bigram features over 256 buckets
      val docs = Tables.documents(s, dir)
      graft.operators.Sampling.importanceWeights(
        docs, docs.filter(col("source").isin("src0", "src1")),
        "doc_id", "text", numBuckets = 256)
        .select(col("doc_id"), col("n_feats"),
          round(col("logw"), 6).as("logw"))
    }),
    "sample_dsir_incremental" -> ((s, dir) => {
      // persisted-model scoring: train the bucket log-ratio model once,
      // score a NEW batch (ids >= 250) — must equal the one-shot run
      // restricted to the batch (oracle runs exactly that)
      val docs = Tables.documents(s, dir)
      val model = graft.operators.Sampling.dsirTrain(
        docs, docs.filter(col("source").isin("src0", "src1")),
        "doc_id", "text", numBuckets = 256)
      graft.operators.Sampling.dsirScore(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", model, 256)
        .select(col("doc_id"), col("n_feats"),
          round(col("logw"), 6).as("logw"))
    }),
    "sample_dsir_unlearned" -> ((s, dir) => {
      // exact unlearning on the count-form DSIR store (the
      // text_nb_unlearned twin, shared CountStore protocol): base +
      // raw/target appends, then one takedown batch subtracts the
      // victims' bucket counts from BOTH distributions — scoring the
      // survivors must equal retraining on corpus-minus-victims, which
      // is exactly what the oracle runs
      val docs = Tables.documents(s, dir)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft-bench-dsirstore"
      val tgt = col("source").isin("src0", "src1")
      graft.operators.Sampling.dsirStoreWrite(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") < 250 && tgt),
        "doc_id", "text", path, numBuckets = 256)
      graft.operators.Sampling.dsirStoreAppend(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", path, "raw")
      graft.operators.Sampling.dsirStoreAppend(
        docs.filter(col("doc_id") >= 250 && tgt),
        "doc_id", "text", path, "target")
      graft.operators.Sampling.dsirStoreDelete(
        docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", path)
      graft.operators.Sampling.dsirStoreScore(
        docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text", path)
        .select(col("doc_id"), col("n_feats"),
          round(col("logw"), 6).as("logw"))
    }),
    "sample_dsir_compacted" -> ((s, dir) => {
      // the physical-removal half of the DSIR takedown: same history,
      // then dsirStoreCompact folds it into a fresh base (victim ledger
      // rows and zero-count buckets leave disk, deltas retired) — and
      // scores must be IDENTICAL to the uncompacted read, i.e. the same
      // retrain-over-survivors oracle (the text_nb_compacted twin)
      val docs = Tables.documents(s, dir)
      val path =
        s"${System.getProperty("java.io.tmpdir")}/graft-bench-dsirstore-c"
      val tgt = col("source").isin("src0", "src1")
      graft.operators.Sampling.dsirStoreWrite(
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") < 250 && tgt),
        "doc_id", "text", path, numBuckets = 256)
      graft.operators.Sampling.dsirStoreAppend(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", path, "raw")
      graft.operators.Sampling.dsirStoreAppend(
        docs.filter(col("doc_id") >= 250 && tgt),
        "doc_id", "text", path, "target")
      graft.operators.Sampling.dsirStoreDelete(
        docs.filter(col("doc_id") % 7 === 3), "doc_id", "text", path)
      graft.operators.Sampling.dsirStoreCompact(s, path)
      graft.operators.Sampling.dsirStoreScore(
        docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text", path)
        .select(col("doc_id"), col("n_feats"),
          round(col("logw"), 6).as("logw"))
    }),
    "sample_dsir_topk" -> ((s, dir) => {
      // the resampling half: 50 docs most target-like by hashed-bigram
      // importance weight (deterministic tie order)
      val docs = Tables.documents(s, dir)
      graft.operators.Sampling.importanceResampleTopK(
        docs, docs.filter(col("source").isin("src0", "src1")),
        "doc_id", "text", numBuckets = 256, k = 50)
    }),
    "graph_pagerank" -> ((s, dir) => {
      // link-graph quality prior: PageRank over the part↔supplier
      // co-supply graph (both directions of each distinct pair;
      // supplier ids offset into their own node-id space), 3 rounds
      val li = Tables.lineitem(s, dir)
      val ps = li.select(col("l_partkey").cast("long").as("src"),
        (col("l_suppkey") + 1000000L).as("dst")).distinct()
      val e = ps.union(ps.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.pageRank(e, "src", "dst", iters = 3)
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }),
    "graph_triangles" -> ((s, dir) => {
      // local clustering prior: exact per-part triangle counts over the
      // co-purchase projection (parts sharing an order are linked) —
      // near-clique neighborhoods (catalog bundles / link farms) score
      // high, organic ones low. The per-order self-join is bounded by
      // TPC-H's ≤7 lines per order; the count itself is the
      // degree-ordered O(m^{3/2}) orientation, not Σ deg²
      // even orders only: the full sf0.1 projection is 1.2M edges /
      // 41M wedges / 1.9M triangles (DuckDB needs 12s for the same
      // count) — the half-graph keeps the workload triangle-rich at a
      // quarter of the wedge volume
      graft.operators.Graph.triangles(
        coPurchaseEdges(s, dir, 2, 0), "src", "dst")
    }),
    "graph_triangles_incremental" -> ((s, dir) => {
      // the graph family's incremental face: build the triangle index
      // on HALF the co-purchase graph (orders % 4 == 0), append the
      // other half (% 4 == 2) WITHOUT recounting the corpus — only
      // triangles containing a new edge are enumerated, from each new
      // edge's lower-degree endpoint. The oracle is the FULL REBUILD
      // over the union (== graph_triangles' own SQL: %4∈{0,2} ≡ %2=0),
      // so equality IS the incremental contract
      // fixed per-JVM path (see sim_ivf_sq8); Write overwrites both
      // tables, so the once-per-invocation Append never double-counts
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-tri"
      graft.operators.Graph.trianglesIndexWrite(
        coPurchaseEdges(s, dir, 4, 0), "src", "dst", idx)
      graft.operators.Graph.trianglesIndexAppend(
        coPurchaseEdges(s, dir, 4, 2), "src", "dst", idx)
      graft.operators.Graph.trianglesFromIndex(s, idx)
    }),
    "graph_triangles_deleted" -> ((s, dir) => {
      // the takedown face of the maintained triangle index: build+append
      // the full co-purchase graph, then DELETE the (a+b) % 5 = 1 edges —
      // only triangles containing a deleted edge are enumerated (from
      // each victim's lower-degree endpoint, attributed to the largest
      // deleted edge), one negative count delta per touched vertex, and
      // the probe must equal the full rebuild over the SURVIVING edges
      // (the oracle runs exactly that). Compaction is spec-gated.
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-tridel"
      graft.operators.Graph.trianglesIndexWrite(
        coPurchaseEdges(s, dir, 4, 0), "src", "dst", idx)
      graft.operators.Graph.trianglesIndexAppend(
        coPurchaseEdges(s, dir, 4, 2), "src", "dst", idx)
      graft.operators.Graph.trianglesIndexDelete(
        coPurchaseEdges(s, dir, 2, 0)
          .filter((col("src") + col("dst")) % 5 === 1),
        "src", "dst", idx)
      graft.operators.Graph.trianglesFromIndex(s, idx)
    }),
    "graph_clustering_coef_incremental" -> ((s, dir) => {
      // the coefficient face of the SAME maintained triangle index
      // (graph_triangles_incremental builds it; this probes it with the
      // Watts-Strogatz normalization) — equals the direct batch
      // operator over the union, which is graph_clustering_coef's own
      // replay. Degrees are one edge-sized agg over the stored edges;
      // nothing is recounted.
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-tric"
      graft.operators.Graph.trianglesIndexWrite(
        coPurchaseEdges(s, dir, 4, 0), "src", "dst", idx)
      graft.operators.Graph.trianglesIndexAppend(
        coPurchaseEdges(s, dir, 4, 2), "src", "dst", idx)
      graft.operators.Graph.clusteringCoefFromIndex(s, idx)
    }),
    "graph_ppr" -> ((s, dir) => {
      // personalized PageRank (TrustRank): random walk with restart to
      // the seed parts {1,2,3} over the SAME co-supply graph as
      // graph_pagerank — proximity-to-trusted-seeds instead of global
      // popularity; unreachable nodes score exactly 0
      val li = Tables.lineitem(s, dir)
      val ps = li.select(col("l_partkey").cast("long").as("src"),
        (col("l_suppkey") + 1000000L).as("dst")).distinct()
      val e = ps.union(ps.select(col("dst").as("src"), col("src").as("dst")))
      graft.operators.Graph.personalizedPageRank(e, "src", "dst",
        seeds = Seq(1L, 2L, 3L), iters = 3)
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }),
    "graph_clustering_coef" -> ((s, dir) => {
      // Watts-Strogatz local clustering: triangles normalized by the
      // vertex's neighbor-pair count — the near-clique score, on the
      // same canonical co-purchase graph as graph_triangles
      graft.operators.Graph.clusteringCoefficients(
        coPurchaseEdges(s, dir, 2, 0), "src", "dst")
    }),
    "graph_kcore" -> ((s, dir) => {
      // dense-community prior: the 35-core of the SAME canonical
      // co-purchase graph graph_triangles counts over — synchronous
      // peel to fixpoint (≤7 rounds observed at sf0.001-0.1; the query
      // bounds it at 12 LOUDLY so the unrolled oracle's round count is
      // a checked contract, not an assumption)
      graft.operators.Graph.kCore(
        coPurchaseEdges(s, dir, 2, 0), "src", "dst", k = 35, maxRounds = 12)
    }),
    "embed_random_projection" -> ((s, dir) =>
      // JL/Achlioptas dimensionality reduction 64 → 16 dims with the
      // md5-Rademacher sign matrix (SQL-replicable planes — the LSH
      // kernel's values kept instead of thresholded); √16 = 4 makes the
      // scaling an exact power of two, so the oracle match is pure
      // dot-product replication
      Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
        .select(col("vec_id"), posexplode(graft.functions.ArrayOps
          .randomProjection(col("embedding").cast("array<double>"),
            outDim = 16, dim = 64, kernel = "md5")))
        .select(col("vec_id"), col("pos").cast("long").as("dim"),
          (round(col("col"), 6) + 0.0).as("comp"))),
    "embed_quantize" -> ((s, dir) =>
      graft.operators.Embeddings.quantizeInt8(
        Tables.embeddings(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          array_join(col("q").cast("array<string>"), ",").as("q_csv"))),
    "embed_kmeans" -> ((s, dir) =>
      // spherical k-means topic sharding: 4 clusters, 2 Lloyd rounds
      // from the 4 lowest-id seeds; the rounded-cosine / rounded-centroid
      // recipe makes the assignment exactly engine-replicable
      graft.operators.Embeddings.kmeans(Tables.embeddings(s, dir),
        "vec_id", "embedding", dim = 64, k = 4, iters = 2)),
    "embed_kmeans_incremental" -> ((s, dir) => {
      // persisted-centroid assignment: train once, assign a NEW batch
      // (ids >= 250) — must equal the one-shot run restricted to it
      val embeds = Tables.embeddings(s, dir)
      val model = graft.operators.Embeddings.kmeansTrain(
        embeds, "vec_id", "embedding", dim = 64, k = 4, iters = 2)
      graft.operators.Embeddings.kmeansAssign(
        embeds.filter(col("vec_id") >= 250), "vec_id", "embedding", model)
    }),

    // ---- dedup (north star) ----
    "dedup_survivors" -> ((s, dir) =>
      Dedup.exactSurvivors(Tables.documents(s, dir), "doc_id", Seq("text"))
        .select("doc_id", "source")),
    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(Tables.documents(s, dir), "doc_id", Seq("text"))),
    "dedup_minhash" -> ((s, dir) =>
      // estimateSlack tuned to the corpus: true near-dups here sit at
      // jaccard >= 0.83 (signature agreement >= 12/16) while the template
      // baseline is ~0.2, so a 0.35 estimate floor prunes the candidate
      // join ~10x with zero recall loss (verified against the exact
      // oracle at sf0.001/0.01/0.1)
      Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
        estimateSlack = 0.05)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),
    "dedup_clusters" -> ((s, dir) => {
      // pairwise LSH matches → duplicate CLUSTERS (connected components):
      // A-B and B-C collapse into one cluster keyed by its min doc id.
      // The LSH pair set equals the exact-Jaccard pair set on this corpus
      // (dedup_minhash's hash check), so the oracle can close over the
      // exact pairs with a recursive CTE.
      val pairs = Dedup.minhashLsh(Tables.documents(s, dir), "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
        estimateSlack = 0.05)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    "dedup_incremental_clusters" -> ((s, dir) => {
      // continuous-ingestion cluster maintenance: labels persisted from
      // the already-ingested corpus (ids < 250) merge with the new
      // batch's incremental-LSH pairs — propagation touches only the
      // components the batch's pairs reach, untouched labels pass
      // through — yet the result must equal rebuilding the closure over
      // the FULL corpus (same oracle as dedup_clusters: old-corpus pairs
      // ∪ new-involving pairs = the complete pair set)
      val docs = Tables.documents(s, dir)
      val oldDocs = docs.filter(col("doc_id") < 250)
      val oldPairs = Dedup.minhashLsh(oldDocs, "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
        estimateSlack = 0.05)
      val oldLabels = Dedup.connectedComponents(oldPairs, "id_a", "id_b")
      val index = Dedup.minhashIndex(oldDocs, "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5)
      val newPairs = Dedup.minhashLshIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", index, numHashes = 16, bands = 8, shingleN = 5,
        threshold = 0.4, estimateSlack = 0.05)
      Dedup.incrementalConnectedComponents(oldLabels, newPairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    "dedup_incremental_survivors" -> ((s, dir) => {
      // the continuous-ingestion end product: survivors computed from
      // the incrementally-MAINTAINED labels (old labels + new batch's
      // probe pairs), never from a full-corpus closure — must equal the
      // batch dedup_near_survivors output
      val docs = Tables.documents(s, dir)
      val oldDocs = docs.filter(col("doc_id") < 250)
      val oldPairs = Dedup.minhashLsh(oldDocs, "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
        estimateSlack = 0.05)
      val oldLabels = Dedup.connectedComponents(oldPairs, "id_a", "id_b")
      val index = Dedup.minhashIndex(oldDocs, "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5)
      val newPairs = Dedup.minhashLshIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", index, numHashes = 16, bands = 8, shingleN = 5,
        threshold = 0.4, estimateSlack = 0.05)
      Dedup.survivorsFromLabels(docs, "doc_id",
          Dedup.incrementalConnectedComponents(oldLabels, newPairs))
        .select("doc_id", "source")
    }),
    "dedup_incremental_deleted" -> ((s, dir) => {
      // TAKEDOWN on the maintained label state: the exact
      // dedup_incremental_clusters labels (old closure + incremental
      // batch), then victims (doc_id % 11 = 4) deleted via
      // Dedup.deleteFromLabels over the accumulated pair store. FULL
      // replay: the result must equal rebuilding the closure over the
      // surviving pairs — representatives re-elected (deleted min id →
      // next-lowest member), bridge-removal SPLITS honored (the label
      // summary can't see them; the pair store can), orphaned members
      // dropped (their only pairs touched victims)
      val (_, labels, pairs) = incrementalLabelState(s, dir)
      Dedup.deleteFromLabels(labels, pairs,
        Tables.documents(s, dir).filter(col("doc_id") % 11 === 4), "doc_id")
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),
    "dedup_incremental_deleted_survivors" -> ((s, dir) => {
      // the takedown END PRODUCT: victims leave the corpus view AND
      // their clusters re-elect survivors — the deduped view after a
      // takedown must equal near-dup survivors over corpus-minus-victims
      val (docs, labels, pairs) = incrementalLabelState(s, dir)
      val live = docs.filter(col("doc_id") % 11 =!= 4)
      Dedup.survivorsFromLabels(live, "doc_id",
          Dedup.deleteFromLabels(labels, pairs,
            docs.filter(col("doc_id") % 11 === 4), "doc_id"))
        .select("doc_id", "source")
    }),
    "dedup_incremental" -> ((s, dir) => {
      // production shape: dedup a NEW batch (ids >= 250) against itself
      // and against the digest index of the already-ingested corpus
      val docs = Tables.documents(s, dir)
      val existing = Dedup.exact(docs.filter(col("doc_id") < 250),
        "doc_id", Seq("text")).select("content_hash")
      Dedup.incrementalExact(docs.filter(col("doc_id") >= 250),
        "doc_id", Seq("text"), existing)
        .select("doc_id", "source")
    }),
    "dedup_incremental_spans" -> ((s, dir) => {
      // continuous-ingestion span dedup: rebuild only the new batch
      // (ids >= 250) against the persisted first-occurrence block index
      // of the already-ingested corpus — must equal the full-corpus
      // rebuild restricted to the new ids (oracle runs exactly that)
      val docs = Tables.documents(s, dir)
      val existing = graft.operators.TrainingData.spanIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", k = 8)
      graft.operators.TrainingData.dedupSpansIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", k = 8, existing)
        .select(col("doc_id"), md5(col("text")).as("text_digest"))
    }),
    "dedup_spans_deleted" -> ((s, dir) => {
      // takedown on the span-block index: victims (old ids % 9 = 2)
      // leave via spanIndexDelete's owner-forgetting semantics — their
      // owned block keys are GONE (content evidence removed), so a new
      // doc repeating one KEEPS it (dedup under-fires conservatively; a
      // rebuild re-elects surviving owners). Oracle replays exactly
      // that: first-occurrence index over old docs minus victim-owned
      // keys, then the new batch's span dedup against it.
      val docs = Tables.documents(s, dir)
      val index = graft.operators.TrainingData.spanIndex(
        docs.filter(col("doc_id") < 250), "doc_id", "text", k = 8)
      val reduced = graft.operators.TrainingData.spanIndexDelete(index,
        docs.filter(col("doc_id") % 9 === 2), "doc_id")
      graft.operators.TrainingData.dedupSpansIncremental(
        docs.filter(col("doc_id") >= 250), "doc_id", "text", k = 8, reduced)
        .select(col("doc_id"), md5(col("text")).as("text_digest"))
    }),
    "dedup_incremental_lsh" -> ((s, dir) => {
      // continuous-ingestion near-dup: new batch (ids >= 250) against
      // the persisted MinHash index of the existing corpus + itself
      val docs = Tables.documents(s, dir)
      val index = Dedup.minhashIndex(docs.filter(col("doc_id") < 250),
        "doc_id", "text", numHashes = 16, bands = 8, shingleN = 5)
      Dedup.minhashLshIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", index, numHashes = 16, bands = 8, shingleN = 5,
        threshold = 0.4, estimateSlack = 0.05)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "dedup_lsh_deleted" -> ((s, dir) => {
      // EXACT takedown on the MinHash index: per-id signature rows, so
      // indexDeleteById leaves state identical to rebuilding over the
      // survivors — no owner-forgetting, no re-election (contrast the
      // first-occurrence stores). The probe after the delete must emit
      // exactly the surviving-corpus pair set, which is what the oracle
      // computes (full pair replay minus victim-involving pairs).
      val docs = Tables.documents(s, dir)
      val index = Dedup.minhashIndex(docs.filter(col("doc_id") < 250),
        "doc_id", "text", numHashes = 16, bands = 8, shingleN = 5)
      val reduced = Dedup.indexDeleteById(index,
        docs.filter(col("doc_id") % 9 === 2), "doc_id")
      Dedup.minhashLshIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", reduced, numHashes = 16, bands = 8, shingleN = 5,
        threshold = 0.4, estimateSlack = 0.05)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "dedup_incremental_simhash" -> ((s, dir) => {
      // continuous-ingestion Hamming near-dup: new batch (ids >= 250)
      // probes the persisted SimHash chunk index of the existing corpus
      // + itself; existing text is never re-read. Pigeonhole blocking is
      // unchanged, so output == all-pairs hamming<=8 set restricted to
      // new-involving pairs (id_a < id_b ⇒ id_b >= 250).
      val docs = Tables.documents(s, dir)
      val index = Dedup.simhashIndex(docs.filter(col("doc_id") < 250),
        "doc_id", "text", maxHamming = 8, kernel = "md5")
      Dedup.simhashIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", index, maxHamming = 8, kernel = "md5")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),
    "dedup_simhash_deleted" -> ((s, dir) => {
      // EXACT takedown on the SimHash chunk index (per-id rows — the
      // dedup_lsh_deleted discipline): probe-after-delete == all-pairs
      // hamming<=8 over corpus-minus-victims, new-involving pairs
      val docs = Tables.documents(s, dir)
      val index = Dedup.simhashIndex(docs.filter(col("doc_id") < 250),
        "doc_id", "text", maxHamming = 8, kernel = "md5")
      val reduced = Dedup.indexDeleteById(index,
        docs.filter(col("doc_id") % 9 === 2), "doc_id")
      Dedup.simhashIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", reduced, maxHamming = 8, kernel = "md5")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),
    "dedup_near_survivors" -> ((s, dir) => {
      // the full near-dup product: corpus in → clustered → one survivor
      // per duplicate cluster out
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
        estimateSlack = 0.05)
      Dedup.nearDupSurvivors(docs, "doc_id", pairs)
        .select("doc_id", "source")
    }),
    "dedup_products_shared" -> ((s, dir) => {
      // the documented production composition: the MinHash pair frame is
      // computed ONCE (connectedComponents materializes it as a flat
      // checkpoint before iterating), then BOTH end products — cluster
      // labels and the survivor view — derive from the propagated label
      // frame without re-running pair generation. The isolation queries
      // dedup_clusters / dedup_near_survivors each regenerate pairs by
      // bench design; this query shows end-to-end cost ≈ pairs + epsilon
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
        estimateSlack = 0.05)
      val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val survivors = Dedup.survivorsFromLabels(docs, "doc_id", labels)
        .select(col("doc_id"), lit(true).as("__sv"))
      docs.select("doc_id")
        .join(labels.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .join(survivors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).cast("long").as("cluster_id"),
          coalesce(col("__sv"), lit(false)).as("is_survivor"))
    }),
    "dedup_simhash" -> ((s, dir) =>
      // md5 kernel + maxHamming+1 chunk blocking: the output equals the
      // exact all-pairs hamming<=8 set (pigeonhole), and the DuckDB
      // oracle rebuilds the signatures from md5() alone — full hash check
      Dedup.simhash(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 8, kernel = "md5")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),
    "dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardBlocked(Tables.documents(s, dir), "doc_id", "text",
        Seq("source"), n = 3, threshold = 0.4)),
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingCosineBlocked(Tables.embeddings(s, dir), "vec_id",
        "embedding", Seq("label"), threshold = 0.4)),
    "dedup_embedding_lsh" -> ((s, dir) =>
      // md5-Rademacher planes: DuckDB rebuilds the same buckets, so the
      // bucketed candidate set (not just the cosine filter) is oracle-
      // checked exactly
      Dedup.embeddingCosine(Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, nBits = 6, threshold = 0.4, kernel = "md5")
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))),
    "dedup_semantic" -> ((s, dir) =>
      // SemDeDup: near-identical pairs within each hyperplane-LSH
      // cluster of embedding space; keep the member FARTHEST from the
      // cluster centroid (diversity-preserving survivor rule)
      Dedup.semanticDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
        dim = 64, nBits = 6, threshold = 0.4, kernel = "md5")
        .select(col("id").as("vec_id"), col("cluster_id"),
          round(col("centroid_cos"), 6).as("centroid_cos"), col("keep"))),
    "dedup_jaccard_prefix" -> ((s, dir) =>
      // EXACT similarity self-join (prefix filtering, recall 1.0 BY
      // CONSTRUCTION — no banding recall floor). Threshold 0.7, the
      // near-dup regime the exact path exists for: this synthetic corpus
      // is maximally adversarial to prefix selectivity (2,041 distinct
      // shingles across 5,000 sf0.1 docs, avg df 500 — no rare tokens),
      // so a t=0.4 run degenerates toward all-pairs for ANY exact method
      // (DuckDB brute force takes minutes on it); at 0.7 the prefix +
      // positional filters bite and the join stays suite-priced
      Dedup.jaccardJoinPrefix(Tables.documents(s, dir), "doc_id", "text",
        shingleN = 5, threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))),
    "dedup_jaccard_prefix_bipartite" -> ((s, dir) => {
      // EXACT cross-frame pairs (new batch vs corpus) — the
      // decontaminateFuzzy shape at recall 1.0: every (corpus, new) pair
      // with J >= 0.7, none of either side's internal pairs
      val docs = Tables.documents(s, dir)
      Dedup.jaccardJoinPrefixBipartite(
        docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250),
        "doc_id", "text", shingleN = 5, threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),
    "dedup_jaccard_prefix_incremental" -> ((s, dir) => {
      // continuous-ingestion EXACT near-dup: persist the prefix index of
      // the existing corpus (ids < 250), probe with the new batch — all
      // new-involving pairs under the index's FROZEN token order, equal
      // to the full self-join's new-involving subset (recall 1.0: order
      // is a selectivity heuristic, verify is exact)
      val docs = Tables.documents(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-jpidx"
      Dedup.jaccardPrefixIndexWrite(docs.filter(col("doc_id") < 250),
        "doc_id", "text", idx, shingleN = 5, threshold = 0.7)
      Dedup.jaccardJoinPrefixIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", idx, threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),
    "dedup_jaccard_prefix_deleted" -> ((s, dir) => {
      // takedown on the exact prefix index: victims (corpus ids with
      // doc_id % 9 = 2) leave the candidate AND verify sides via the
      // bounded victim list; the probe's new-involving pairs must equal
      // the full exact join over corpus-minus-victims ∪ new (the frozen
      // token order still counts the victims — order is a selectivity
      // heuristic, verify is exact, so the oracle is unchanged except
      // for the victim exclusion)
      val docs = Tables.documents(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-jpdel"
      Dedup.jaccardPrefixIndexWrite(docs.filter(col("doc_id") < 250),
        "doc_id", "text", idx, shingleN = 5, threshold = 0.7)
      Dedup.jaccardPrefixIndexDelete(
        docs.filter(col("doc_id") < 250 && col("doc_id") % 9 === 2)
          .select("doc_id"), "doc_id", idx)
      Dedup.jaccardJoinPrefixIncremental(docs.filter(col("doc_id") >= 250),
        "doc_id", "text", idx, threshold = 0.7)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),
    "dedup_semantic_kmeans" -> ((s, dir) =>
      // SemDeDup with the paper's actual clustering: trained spherical
      // k-means cells (same k=4/iters=2 recipe the embed_kmeans oracle
      // replays) instead of LSH buckets; keep rule and threshold match
      // dedup_semantic so the two variants differ ONLY in the partition
      Dedup.semanticDedupKmeans(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, k = 4, iters = 2, threshold = 0.4)
        .select(col("id").as("vec_id"), col("cluster_id"),
          round(col("centroid_cos"), 6).as("centroid_cos"), col("keep"))),
    "dedup_incremental_semantic_kmeans" -> ((s, dir) => {
      // continuous-ingestion SemDeDup: the new batch (ids >= 250) scores
      // against the model TRAINED ON THE EXISTING CORPUS (frozen cells,
      // never retrained) and the persisted assigned-vector index; every
      // component touched by a new doc is re-decided whole (a new doc
      // can bridge two existing components or displace a survivor) —
      // must equal the frozen-model rebuild over the union restricted
      // to new-involving components (oracle runs exactly that)
      val emb = Tables.embeddings(s, dir)
      val model = graft.operators.Embeddings.kmeansTrain(
        emb.filter(col("vec_id") < 250), "vec_id", "embedding",
        dim = 64, k = 4, iters = 2)
      val index = Dedup.semanticKmeansIndex(
        emb.filter(col("vec_id") < 250), "vec_id", "embedding", model)
      Dedup.semanticDedupKmeansIncremental(
        emb.filter(col("vec_id") >= 250), "vec_id", "embedding",
        model, index, threshold = 0.4)
        .select(col("id").as("vec_id"), col("cluster_id"),
          round(col("centroid_cos"), 6).as("centroid_cos"), col("keep"))
    }),
    "dedup_incremental_embedding_lsh" -> ((s, dir) => {
      // continuous-ingestion embedding near-dup: new batch (ids >= 250)
      // probes the persisted hyperplane index of the existing corpus +
      // itself; existing vectors are read from the index, never the
      // source table. Blocking unchanged ⇒ output == full-corpus pair
      // set restricted to new-involving pairs (id_a < id_b ⇒ id_b >= 250).
      val emb = Tables.embeddings(s, dir)
      val index = Dedup.embeddingIndex(emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", dim = 64, nBits = 6, kernel = "md5")
      Dedup.embeddingCosineIncremental(emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding", index, dim = 64, nBits = 6,
        threshold = 0.4, kernel = "md5")
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),
    "dedup_embedding_lsh_deleted" -> ((s, dir) => {
      // EXACT takedown on the hyperplane index (per-id rows — the
      // dedup_lsh_deleted discipline). The oracle rebuilds buckets over
      // the REDUCED population (victims out before the bucket cap, the
      // same population the probe sees), not a post-filter of the full
      // pair set.
      val emb = Tables.embeddings(s, dir)
      val index = Dedup.embeddingIndex(emb.filter(col("vec_id") < 250),
        "vec_id", "embedding", dim = 64, nBits = 6, kernel = "md5")
      val reduced = Dedup.indexDeleteById(index,
        emb.filter(col("vec_id") % 9 === 2), "vec_id")
      Dedup.embeddingCosineIncremental(emb.filter(col("vec_id") >= 250),
        "vec_id", "embedding", reduced, dim = 64, nBits = 6,
        threshold = 0.4, kernel = "md5")
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
    }),

    // ---- similarity search (north star) ----
    "sim_topk" -> ((s, dir) => {
      val q = queryVec(s, dir)
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding", q, 10)
    }),
    "sim_ann_lsh" -> ((s, dir) => {
      // recall contract, hash-checkable: every multi-probe ANN result must
      // be a genuine near neighbor (inside the exact top-50) — the overlap
      // count is computed in Spark against bruteForceTopK and asserted by
      // the oracle
      val q = queryVec(s, dir)
      val emb = Tables.embeddings(s, dir)
      val ann = Similarity.annTopK(emb, "vec_id", "embedding", q,
        k = 10, dim = 64, nBits = 8, probeHamming = 3).select("vec_id")
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 50)
        .select(col("vec_id").as("__evid"))
      ann.join(exact, col("vec_id") === col("__evid"), "left")
        .agg(count(lit(1)).as("n_ann"), count(col("__evid")).as("n_in_exact_top50"))
    }),
    "sim_pq" -> ((s, dir) => {
      // product quantization (Jégou et al. 2011): 8 subspaces × 16
      // centroids — 8 nibbles per vector, 64× smaller than the raw
      // embedding — trained/encoded with the engine's deterministic
      // k-means recipe, then compressed-domain top-5 for three query
      // vectors by normalized asymmetric distance (raw query vs
      // reconstructed doc). FULL replay: the oracle retrains all 8
      // codebooks, re-encodes, reconstructs, and re-ranks — bit-for-bit
      val emb = Tables.embeddings(s, dir)
      val model = graft.operators.Embeddings.pqTrain(
        emb, "vec_id", "embedding", dim = 64, m = 8, k = 16, iters = 2)
      val enc = graft.operators.Embeddings.pqEncode(
        emb, "vec_id", "embedding", model)
      graft.operators.Embeddings.pqTopK(enc, "vec_id",
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", model,
        k = 5, excludeSelf = true)
        .select(col("q_id"), col("id"), col("pq_cos"),
          col("rank").cast("long").as("rank"))
    }),
    "sim_ivfpq" -> ((s, dir) => {
      // IVF-PQ, FULL bit-for-bit replay (no recall contract needed):
      // md5-kernel LSH cells + lloydIters=0 make the coarse quantizer a
      // pure function of the corpus, round-9 written centroids + round-6
      // probe ranking derandomize the probe selection, and the m=16
      // sub=4 L2 codebooks (16 bytes/vector — 32× compression) replay
      // through the same chain as sim_pq. m=16/k=32 over m=32/k=32:
      // identical correctness strength (the replay checks bytes, not
      // recall), half the encode's HOF expression count — the m=32
      // variant's 1024-subexpression projections cost ~7 s of
      // CONSTANT codegen/analysis per run (13.8 s at sf0.01, roughly
      // flat across sf0.001-0.1 — compile time, not data). The oracle
      // rebuilds the ENTIRE index (cells, centroids, 16
      // codebooks, codes) and re-ranks the probe — every stored byte
      // and every ranking decision is checked. (On this near-uniform
      // corpus a recall-vs-exact contract cannot hold constant across
      // SFs: quantized ranking noise exceeds the vanishing cosine gaps
      // past rank ~20 — measured in20 5-8/10 at every config — so the
      // replay is BOTH stronger and the only stable check.)
      val q = queryVec(s, dir)
      val emb = Tables.embeddings(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ivfpq"
      Similarity.ivfWriteIndexPQ(emb, "vec_id", "embedding", dim = 64,
        path = idx, nBits = 6, lloydIters = 0, m = 16, codebookK = 32,
        pqIters = 2, kernel = "md5")
      Similarity.ivfTopKFromIndexPQ(s, idx, "vec_id", q, k = 10, nProbe = 3)
        .select(col("vec_id"), col("cosine").as("pq_cos"))
    }),
    "sim_ivfpq_append" -> ((s, dir) => {
      // the IVF-PQ append history, fully replayed: build on the even
      // vec_ids (frozen centroids + codebooks), append the odds against
      // the frozen index, probe the union. The index dir is DELETED
      // first — the append write is mode("append"), so reusing a fixed
      // path across invocations would double rows
      val q = queryVec(s, dir)
      val emb = Tables.embeddings(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ivfpq-app"
      val p = new org.apache.hadoop.fs.Path(idx)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      Similarity.ivfWriteIndexPQ(emb.filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dim = 64, path = idx, nBits = 6,
        lloydIters = 0, m = 16, codebookK = 32, pqIters = 2, kernel = "md5")
      Similarity.ivfAppendPQ(emb.filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", idx)
      Similarity.ivfTopKFromIndexPQ(s, idx, "vec_id", q, k = 10, nProbe = 3)
        .select(col("vec_id"), col("cosine").as("pq_cos"))
    }),
    "sim_ivfpq_refine" -> ((s, dir) => {
      // the two-tier PQ probe (FAISS refine): ADC shortlist of
      // refineFactor·k candidates from the probed cells, re-ranked by
      // the SQ8 refinement payload. FULL bit-for-bit replay, the
      // sim_ivfpq discipline — on this near-uniform corpus
      // recall-vs-exact contracts cannot hold constant across SFs
      // (ranking noise exceeds the vanishing cosine gaps; same finding
      // that derandomized sim_ivfpq), and the replay is the stronger
      // check anyway: the oracle recomputes the entire chain — cells,
      // centroids, codebooks, codes, the shortlist cut, the SQ8
      // quantization (double scale in, float32 scale stored), and the
      // re-rank — so every byte of BOTH tiers is verified.
      val q = queryVec(s, dir)
      val emb = Tables.embeddings(s, dir)
      // fixed per-JVM path (see sim_ivf_sq8) — no per-invocation leak
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ivfpqr"
      Similarity.ivfWriteIndexPQ(emb, "vec_id", "embedding", dim = 64,
        path = idx, nBits = 6, lloydIters = 0, m = 16, codebookK = 32,
        pqIters = 2, kernel = "md5", withRefine = true)
      Similarity.ivfTopKFromIndexPQRefine(s, idx, "vec_id", q,
        k = 10, nProbe = 3, refineFactor = 5)
    }),
    "sim_ivfpq_join_refine" -> ((s, dir) => {
      // the refine tier on the BATCHED join face (the production dedup
      // shape): per-query ADC shortlist of refineFactor·k over the
      // probed cells, SQ8 re-rank, top k — Similarity.ivfPqTopKJoinRefine
      // against a withRefine index. FULL bit-for-bit replay per query:
      // round-6 probe-cell ranking (ties to the lowest cell), the ADC
      // shortlist cut, the SQ8 quantization asymmetry, and the re-rank
      // are all recomputed by the oracle for every query.
      val emb = Tables.embeddings(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ivfpqjr"
      Similarity.ivfWriteIndexPQ(emb, "vec_id", "embedding", dim = 64,
        path = idx, nBits = 6, lloydIters = 0, m = 16, codebookK = 32,
        pqIters = 2, kernel = "md5", withRefine = true)
      Similarity.ivfPqTopKJoinRefine(emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", idx, "vec_id", k = 5, nProbe = 3,
        refineFactor = 4, excludeSelf = true)
        .select(col("q_id"), col("id"), col("cosine"),
          col("rank").cast("long").as("rank"))
    }),
    "sim_bitext_margin_indexed" -> ((s, dir) => {
      // sim_bitext_margin's CORPUS-SCALE path: the directional top-4
      // lists come from ivfTopKJoinSQ8 against two PERSISTED SQ8
      // indexes (evens-index and odds-index) instead of the exact
      // bipartite broadcast — the composition the margin miner ships
      // at 100 TB, where nothing corpus-sized is ever collected. FULL
      // replay: md5 cells + lloydIters=0 + round-9 written centroids +
      // round-6 per-query probe ranking derandomize both indexes (the
      // sim_ivfpq discipline applied to SQ8), so the oracle recomputes
      // both quantized directional lists, the max-canonicalized
      // candidate union, the micro-unit denominators, and the mutual
      // argmax bit for bit.
      val emb = Tables.embeddings(s, dir)
      val src = emb.filter(col("vec_id") % 2 === 0)
      val dst = emb.filter(col("vec_id") % 2 =!= 0)
      val t = System.getProperty("java.io.tmpdir")
      val ixS = s"$t/graft-bench-bmx-src"
      val ixD = s"$t/graft-bench-bmx-dst"
      // the two directional indexes are INDEPENDENT stores (distinct
      // roots) — build them concurrently, the takedown-orchestrator
      // judgment (guide §2.6): wall-clock = the slower build, not the sum
      graft.operators.Takedown.inParallel(Seq(ixS -> src, ixD -> dst)) {
        case (ix, side) =>
          Similarity.ivfWriteIndexSQ8(side, "vec_id", "embedding", dim = 64,
            path = ix, nBits = 6, lloydIters = 0, kernel = "md5",
            roundedCentroids = true)
      }
      val fwd = Similarity.ivfTopKJoinSQ8(src, "vec_id", "embedding",
        ixD, "vec_id", k = 4, nProbe = 6, roundedProbe = true)
      val bwd = Similarity.ivfTopKJoinSQ8(dst, "vec_id", "embedding",
        ixS, "vec_id", k = 4, nProbe = 6, roundedProbe = true)
      Similarity.marginMine(fwd, bwd, threshold = 1.0)
    }),
    "sim_ivf_deleted" -> ((s, dir) => {
      // the DELETION (takedown) discipline, probed end to end: build the
      // derandomized two-tier index over the FULL corpus, tombstone
      // vec_id % 7 = 3 (Similarity.ivfDelete — (id, up_to) rows in the
      // dedicated tombstones/ channel, applied by the cellsCurrent fold
      // on every face: a version dies iff batch_id <= up_to), then
      // the refine probe. FULL bit-for-bit replay: the oracle rebuilds
      // the index over the full corpus — cells, centroids, codebooks
      // all trained WITH the victims, because deletion must NOT retrain
      // — and excludes the victims from the candidate set only, which
      // is exactly what the tombstones do. Safe at a reused path: the
      // full rebuild retires the previous invocation's tombstone channel
      val q = queryVec(s, dir)
      val emb = Tables.embeddings(s, dir)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ivfdel"
      Similarity.ivfWriteIndexPQ(emb, "vec_id", "embedding", dim = 64,
        path = idx, nBits = 6, lloydIters = 0, m = 16, codebookK = 32,
        pqIters = 2, kernel = "md5", withRefine = true)
      Similarity.ivfDelete(
        emb.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id", idx)
      Similarity.ivfTopKFromIndexPQRefine(s, idx, "vec_id", q,
        k = 10, nProbe = 3, refineFactor = 5)
    }),
    "sim_ivf" -> ((s, dir) => {
      // same recall contract for the IVF probe path
      val q = queryVec(s, dir)
      val emb = Tables.embeddings(s, dir)
      // nBits=6 → 64 cells; ONE Lloyd iteration trains the coarse
      // quantizer, cutting the probes needed for full recall from 4
      // (raw LSH cells) to 3 — measured 10/10 at sf0.001/0.01/0.1.
      // nProbe=2 does NOT suffice at any SF: the synthetic embeddings
      // are near-uniform, so a query's true top-10 genuinely straddles
      // 3 Voronoi cells; on clustered real corpora training buys more
      // (see the SimilaritySpec adaptive-cells test, where 1 probe
      // recovers what raw LSH splits)
      val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", q,
        k = 10, dim = 64, nBits = 6, nProbe = 3, lloydIters = 1).select("vec_id")
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 50)
        .select(col("vec_id").as("__evid"))
      ivf.join(exact, col("vec_id") === col("__evid"), "left")
        .agg(count(lit(1)).as("n_ivf"), count(col("__evid")).as("n_in_exact_top50"))
    }),
    "sim_ivf_sq8" -> ((s, dir) => {
      // the persisted-index IVF path with int8 scalar quantization
      // (IVF-SQ8): build the ~4×-smaller index, probe it with inline
      // dequantization, and hold the SAME recall contract as sim_ivf —
      // all 10 results inside the exact top-50 (quantization error is
      // ≤ scale/254 per component, far under this corpus's cosine gaps;
      // verified at sf0.001/0.01/0.1). The 4× size ratio itself is
      // spec-asserted (SimilaritySpec).
      val q = queryVec(s, dir)
      val emb = Tables.embeddings(s, dir)
      // fixed per-JVM path, overwritten on every invocation — a fresh
      // createTempDirectory here leaked one full index copy per bench
      // pass / verify run (plan construction was side-effectful)
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ivfsq8"
      Similarity.ivfWriteIndexSQ8(emb, "vec_id", "embedding", dim = 64,
        path = idx, nBits = 6, lloydIters = 1)
      val ivf = Similarity.ivfTopKFromIndexSQ8(s, idx, "vec_id", q,
        k = 10, nProbe = 3).select("vec_id")
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 50)
        .select(col("vec_id").as("__evid"))
      ivf.join(exact, col("vec_id") === col("__evid"), "left")
        .agg(count(lit(1)).as("n_ivf_sq8"), count(col("__evid")).as("n_in_exact_top50"))
    }),
    "sim_ivf_filtered" -> ((s, dir) => {
      // the FILTERED (predicated) probe — top-k AMONG ROWS SATISFYING A
      // PREDICATE, the most common real ANN shape (per-source dedup,
      // per-language retrieval). rowFilter applies IN-CELL, before the
      // top-k, so each probe returns k rows from the FILTERED candidate
      // set; the recall contract holds per filtered subset (every
      // neighbor inside the exact top-50 OF THAT SUBSET). Two
      // selectivities: ~50% (vec_id % 2 = 0, nProbe 12) and ~5%
      // (vec_id % 20 = 0, nProbe 24) — the documented trade-off: the
      // predicate thins every cell ~uniformly, so dropping selectivity
      // means probing more cells to keep k matches in range (measured:
      // the 50% face needs 8 probes at sf0.001, the 5% face needs 16
      // at sf0.01; both carried with margin). Verified at
      // sf0.001/0.01/0.1; a recall or coverage regression breaks the
      // hash.
      val q = queryVec(s, dir)
      val emb = Tables.embeddings(s, dir)
      // fixed per-JVM path (see sim_ivf_sq8) — no per-invocation leak
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ivffilt"
      Similarity.ivfWriteIndexSQ8(emb, "vec_id", "embedding", dim = 64,
        path = idx, nBits = 6, lloydIters = 1)
      def face(selPct: Int, mod: Int, k: Int, nProbe: Int) = {
        val got = Similarity.ivfTopKFromIndexSQ8(s, idx, "vec_id", q,
          k = k, nProbe = nProbe,
          rowFilter = _.filter(col("vec_id") % mod === 0)).select("vec_id")
        val exact = Similarity.bruteForceTopK(
          emb.filter(col("vec_id") % mod === 0), "vec_id", "embedding", q, 50)
          .select(col("vec_id").as("__evid"))
        got.join(exact, col("vec_id") === col("__evid"), "left")
          .agg(count(lit(1)).as("n_res"),
            count(col("__evid")).as("n_in_exact_top50"))
          .select(lit(selPct.toLong).as("sel_pct"), col("n_res"),
            col("n_in_exact_top50"))
      }
      face(50, 2, k = 10, nProbe = 12)
        .unionAll(face(5, 20, k = 5, nProbe = 24))
    }),
    "sim_ivf_join" -> ((s, dir) => {
      // the batched ANN join ("dedup this batch against the vector
      // index"): every row of the corpus queries the persisted SQ8 index
      // at once — one join, queries never collected — under the same
      // recall contract as the point probes: every returned neighbor is
      // inside that query's EXACT top-50 (knnJoinExact ground truth),
      // every query returns exactly k rows, and every query answers.
      // nProbe=6 (of 64 cells): the ALL-queries contract is stricter
      // than sim_ivf's single query — at nProbe=3 the worst boundary
      // queries reach 98.1% — and 6 probed cells hold 100% at
      // sf0.001/0.01/0.1 while still scanning <10% of the index
      val emb = Tables.embeddings(s, dir)
      // fixed per-JVM path (see sim_ivf_sq8) — no per-invocation leak
      val idx = s"${System.getProperty("java.io.tmpdir")}/graft-bench-ivfjoin"
      Similarity.ivfWriteIndexSQ8(emb, "vec_id", "embedding", dim = 64,
        path = idx, nBits = 6, lloydIters = 1)
      val joined = Similarity.ivfTopKJoinSQ8(emb, "vec_id", "embedding",
        idx, "vec_id", k = 5, nProbe = 6, excludeSelf = true)
      val exact = Similarity.knnJoinExact(emb, "vec_id", "embedding",
        dim = 64, k = 50)
        .select(col("id_a").as("__qa"), col("id_b").as("__qb"))
      joined.join(exact,
          col("q_id") === col("__qa") && col("id") === col("__qb"), "left")
        .agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_results"),
          count(col("__qa")).as("n_in_exact_top50"))
    }),
    "sim_neighbors" -> ((s, dir) =>
      // md5-Rademacher planes — bucketing, cap, pairs, and per-id ranks
      // all replicated by the DuckDB oracle (full hash check)
      Similarity.neighborsWithinBuckets(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, k = 3, nBits = 12, kernel = "md5")
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"), col("rank"))),
    "sim_bitext_margin" -> ((s, dir) => {
      // margin-based pair mining (Artetxe & Schwenk 2019 — the
      // LASER/CCMatrix aligner): evens vs odds as the two embedded
      // corpora, exact directional top-4 lists, cosines normalized by
      // each side's neighborhood average, MUTUAL-best pairs above
      // margin 1.0. FULL replay: the oracle recomputes both top-k
      // lists, the micro-unit denominators, the margins, and the
      // two-sided argmax.
      val emb = Tables.embeddings(s, dir)
      val src = emb.filter(col("vec_id") % 2 === 0)
      val dst = emb.filter(col("vec_id") % 2 =!= 0)
      val fwd = Similarity.knnJoinExactBipartite(src, "vec_id", "embedding",
        dst, "vec_id", "embedding", dim = 64, k = 4)
      val bwd = Similarity.knnJoinExactBipartite(dst, "vec_id", "embedding",
        src, "vec_id", "embedding", dim = 64, k = 4)
      Similarity.marginMine(fwd, bwd, threshold = 1.0)
    }),
    "sim_knn_exact" -> ((s, dir) =>
      // exact quadratic ground truth (broadcast nested-loop + per-id
      // window) — the recall yardstick for the LSH paths
      Similarity.knnJoinExact(Tables.embeddings(s, dir), "vec_id",
        "embedding", dim = 64, k = 3)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"), col("rank"))),

    // ---- multimodal plumbing (north star; decode is a marked stub) ----
    "mm_meta" -> ((s, dir) =>
      Multimodal.withMediaColumns(Tables.documents(s, dir), "text", "image", "png")
        .select(col("doc_id"), col("meta.media_type").as("media_type"),
          col("meta.byte_len").as("byte_len"), col("meta.sha256").as("sha256_hex"))),
    "mm_decode" -> ((s, dir) => {
      val media = Multimodal.withMediaColumns(Tables.documents(s, dir), "text", "image", "png")
      Multimodal.decodeFeatures(s, media, "doc_id", "payload")
        .select(col("id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
    }),
    "mm_frames" -> ((s, dir) => {
      val media = Multimodal.withMediaColumns(Tables.documents(s, dir), "text", "video", "mp4")
      Multimodal.sampleFrames(s, media, "doc_id", "payload", everyN = 5)
        .select(col("id"), col("frame_idx").cast("long").as("frame_idx"))
    }),
    "mm_resize" -> ((s, dir) => {
      val media = Multimodal.withMediaColumns(Tables.documents(s, dir), "text", "image", "png")
      Multimodal.resizeImages(s, media, "doc_id", "payload", w = 224, h = 224)
        .select(col("id"), col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          length(col("out_bytes")).cast("long").as("out_len"))
    }),
    "mm_decode_real" -> ((s, dir) => {
      // REAL codec round trip: synthetic PNGs (ImageIO encode) decoded
      // back (ImageIO decode) — the oracle predicts dims from the id
      val pngs = Multimodal.syntheticImages(s,
        Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      Multimodal.decodeFeatures(s, pngs, "id", "payload")
        .select(col("id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
    }),
    "mm_audio_real" -> ((s, dir) => {
      // REAL audio round trip: synthetic 16 kHz mono WAVs (javax.sound
      // encode) decoded back; frame count and duration predictable from id
      val wavs = Multimodal.syntheticAudio(s,
        Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      Multimodal.audioFeatures(s, wavs, "id", "payload")
        .select(col("id"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("n_frames").cast("long").as("n_frames"),
          (col("n_frames") * 1000 / col("sample_rate")).cast("long").as("duration_ms"))
    }),
    "mm_audio_dedup" -> ((s, dir) => {
      // audio near-dup by CONTENT: same tone at different durations ⇒
      // same fingerprint class; byte/sha dedup finds nothing. The
      // zero-crossing estimate sits within a few Hz of the true tone, so
      // rounding to the 55 Hz class grid is exact and oracle-checkable.
      val wavs = Multimodal.syntheticAudio(s,
        Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      Multimodal.audioFingerprints(s, wavs, "id", "payload").toDF()
        .select(col("id"),
          round((col("freq_hz") - 110.0) / 55.0).cast("long").as("fp_class"))
    }),
    "mm_phash_dedup" -> ((s, dir) => {
      // image near-dup by CONTENT: consecutive ids render the same
      // pattern at different resolutions (different bytes, different
      // sha256 — byte-level dedup finds nothing), the perceptual hash
      // collides, and chunk-blocked hamming pairing recovers exactly the
      // same-pattern pairs. Pixels never shuffle — only 8-byte hashes.
      val imgs = Multimodal.syntheticPatternImages(s,
        Tables.documents(s, dir).select(col("doc_id")), "doc_id", idsPerPattern = 2)
      val hashes = Multimodal.perceptualHashes(s, imgs, "id", "payload").toDF()
      graft.operators.Dedup.hammingPairs(hashes, "id", "phash", maxHamming = 8)
        .select(col("id_a"), col("id_b"))
    }),
    "mm_resize_real" -> ((s, dir) => {
      // real resize then REAL re-decode of the output bytes: reported
      // dims come from decoding the resized PNG, not from the request
      val pngs = Multimodal.syntheticImages(s,
        Tables.documents(s, dir).select(col("doc_id")), "doc_id")
      val resized = Multimodal.resizeImages(s, pngs, "id", "payload", w = 64, h = 64)
      Multimodal.decodeFeatures(s, resized.toDF(), "id", "out_bytes")
        .select(col("id"), col("width").cast("long").as("out_w"),
          col("height").cast("long").as("out_h"))
    })
  )

  /** Query vector for similarity search: embedding of vec_id=0, fetched
    * once on the driver (config-read, like the reference's startup schema
    * resolution).
    */
  /** The co-purchase projection (parts sharing an order are linked) the
    * graph queries share: undirected-raw edges from orders with
    * `l_orderkey % modulus == residue`. The per-order self-join is
    * bounded by TPC-H's ≤7 lines per order.
    */
  private def coPurchaseEdges(s: SparkSession, dir: String,
      modulus: Int, residue: Int): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % modulus === residue)
      .select(col("l_orderkey").as("k"),
        col("l_partkey").cast("long").as("p"))
    li.join(li.select(col("k"), col("p").as("q")), Seq("k"))
      .filter(col("p") =!= col("q"))
      .select(col("p").as("src"), col("q").as("dst"))
  }

  private def queryVec(s: SparkSession, dir: String): Seq[Double] =
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head()
      .getSeq[Double](0)

  /** The maintained cluster-label state the takedown queries operate
    * on: the dedup_incremental_clusters construction (old-corpus
    * closure + incremental batch fold) PLUS the accumulated pair store
    * those labels summarize — [[graft.operators.Dedup.deleteFromLabels]]
    * needs the pairs because a victim's departure can split a component.
    * Returns (docs, labels, pairs).
    */
  private def incrementalLabelState(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val oldDocs = docs.filter(col("doc_id") < 250)
    // each pair frame is a whole LSH pipeline read by TWO consumers
    // (its closure AND the accumulated pair store deleteFromLabels
    // scans) — materialize each ONCE, or the second consumer re-runs
    // shingling + banding + verify end to end (measured: the _deleted
    // twins paid the full pair generation twice per query)
    val oldPairs = Dedup.minhashLsh(oldDocs, "doc_id", "text",
      numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
      estimateSlack = 0.05).localCheckpoint(true)
    val oldLabels = Dedup.connectedComponents(oldPairs, "id_a", "id_b")
    val index = Dedup.minhashIndex(oldDocs, "doc_id", "text",
      numHashes = 16, bands = 8, shingleN = 5)
    val newPairs = Dedup.minhashLshIncremental(
      docs.filter(col("doc_id") >= 250), "doc_id", "text", index,
      numHashes = 16, bands = 8, shingleN = 5, threshold = 0.4,
      estimateSlack = 0.05).localCheckpoint(true)
    // the label view is re-read several times by deleteFromLabels (one
    // semi + one anti + the member scan) — flatten it once too
    val labels = Dedup.incrementalConnectedComponents(oldLabels, newPairs)
      .localCheckpoint(true)
    // old-old pairs ∪ new-involving pairs = the complete pair set (the
    // dedup_incremental_clusters invariant, hash-verified there)
    val pairs = oldPairs.select("id_a", "id_b")
      .unionByName(newPairs.select("id_a", "id_b"))
    (docs, labels, pairs)
  }

  // -- oracles -------------------------------------------------------------

  /** DuckDB SQL over the same parquet tables (driver registers each table
    * by name). Omitted keys (LSH-bucketed ops, stub decode) get the
    * driver's rows-only check.
    */
  lazy val oracleSql: Map[String, String] = Map(
    "pipe_add10" ->
      s"SELECT key, value, num + 10 AS num FROM ($msgSql)",
    "pipe_append_string" ->
      s"SELECT key, value || '_appended' AS value, num FROM ($msgSql)",
    "pipe_capitalize" ->
      s"SELECT key, upper(value) AS value, num FROM ($msgSql)",
    "pipe_reverse_string" ->
      s"SELECT key, reverse(value) AS value, num FROM ($msgSql)",
    "pipe_is_even" ->
      s"SELECT key, value, num FROM ($msgSql) WHERE num % 2 = 0",
    "pipe_chain_route" ->
      s"""SELECT CASE WHEN (num+10) % 2 = 0 THEN 'target' ELSE '__dropped__' END AS topic,
         key, upper(value) AS value, num + 10 AS num FROM ($msgSql)""",
    "pipe_dlq_route" ->
      s"""WITH input AS (SELECT key, CASE WHEN key::BIGINT % 3 = 0 THEN num::VARCHAR ELSE value END AS value, num FROM ($msgSql))
         SELECT CASE WHEN key::BIGINT % 3 = 0 THEN 'target' ELSE 'dlq_parse' END AS topic,
         key, value,
         CASE WHEN key::BIGINT % 3 = 0 THEN num + 10 ELSE num END AS num FROM input""",
    "pipe_error_route" ->
      s"""WITH input AS (SELECT key, CASE WHEN key::BIGINT % 3 = 0 THEN num::VARCHAR ELSE value END AS value, num FROM ($msgSql))
         SELECT CASE WHEN key::BIGINT % 3 = 0 THEN 'target' ELSE '__error__' END AS topic,
         key, value,
         CASE WHEN key::BIGINT % 3 = 0 THEN num + 10 ELSE num END AS num FROM input""",

    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 2) AS sum_qty,
         round(sum(l_extendedprice), 2) AS sum_base_price,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
         round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
         round(avg(l_quantity), 4) AS avg_qty,
         round(avg(l_extendedprice), 4) AS avg_price,
         round(avg(l_discount), 4) AS avg_disc,
         count(*) AS count_order
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
         GROUP BY l_returnflag, l_linestatus""",
    "q_top_revenue" ->
      """SELECT c_custkey, c_name, revenue FROM customer
         JOIN (SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
               FROM orders GROUP BY o_custkey) r ON c_custkey = o_custkey
         ORDER BY revenue DESC, c_custkey LIMIT 10""",
    "q_regional_revenue" ->
      """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA' GROUP BY n_name""",
    "q_window_top_order" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey) AS rn
           FROM orders) WHERE rn = 1""",
    "q_running_total" ->
      """SELECT o_custkey, o_orderkey,
         round(sum(o_totalprice) OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
         FROM orders""",
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_semi_join" ->
      """SELECT p_partkey, p_name FROM part
         WHERE p_size > 40
           AND EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""",
    "q_except" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
         EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'error'""",
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_quantity), 2) AS sum_qty
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "q_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts,
         count(DISTINCT l_suppkey) AS distinct_supps
         FROM lineitem GROUP BY l_returnflag""",
    "q_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
         TRUE AS approx_within_5pct
         FROM lineitem GROUP BY l_returnflag""",
    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
         count(*) AS n FROM events GROUP BY 1""",
    "q_hourly_events" ->
      """SELECT date_trunc('hour', ts::TIMESTAMP) AS hour, event_type,
         count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY 1, 2""",
    "q_shipping_priority" ->
      """SELECT l_orderkey, revenue, o_orderdate, o_orderpriority FROM (
           SELECT l_orderkey, o_orderdate, o_orderpriority,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           WHERE c_mktsegment = 'BUILDING'
             AND o_orderdate < TIMESTAMP '1996-03-15'
             AND l_shipdate > TIMESTAMP '1996-03-15'
           GROUP BY l_orderkey, o_orderdate, o_orderpriority)
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_scalar_subquery" ->
      """SELECT p_partkey, p_name, round(p_retailprice, 2) AS price
         FROM part
         WHERE p_retailprice > 1.5 * (SELECT avg(p_retailprice) FROM part)""",
    "q_correlated_exists" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS total
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 40)""",
    "pipe_json_codec" ->
      s"SELECT key, upper(value) AS value, num + 10 AS num FROM ($msgSql)",
    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
         round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n
         FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))""",
    "q_pivot" ->
      """SELECT l_returnflag,
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS "F",
         round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS "O"
         FROM lineitem GROUP BY l_returnflag""",
    "q_percentile" ->
      """SELECT 0 AS q, round(quantile_cont(l_extendedprice, 0.25), 4) AS price_q FROM lineitem
         UNION ALL
         SELECT 1 AS q, round(quantile_cont(l_extendedprice, 0.50), 4) FROM lineitem
         UNION ALL
         SELECT 2 AS q, round(quantile_cont(l_extendedprice, 0.75), 4) FROM lineitem""",
    "q_stats" ->
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 6) + 0.0 AS corr_qty_price,
         round(stddev_samp(l_quantity), 6) AS sd_qty,
         round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price
         FROM lineitem GROUP BY l_returnflag""",
    "q_union" ->
      """SELECT user_id FROM events WHERE event_type = 'purchase'
         UNION
         SELECT user_id FROM events WHERE event_type = 'error'""",
    "q_intersect" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
         INTERSECT
         SELECT DISTINCT user_id FROM events WHERE event_type = 'error'""",
    "q_full_outer" ->
      """SELECT c_custkey, c_mktsegment, order_year, year_total
         FROM (SELECT c_custkey, c_mktsegment FROM customer) c
         FULL OUTER JOIN
           (SELECT o_custkey, year(o_orderdate)::INT AS order_year,
                   round(sum(o_totalprice), 2) AS year_total
            FROM orders GROUP BY o_custkey, year(o_orderdate)) o
           ON c_custkey = o_custkey""",
    "q_map_funcs" ->
      """SELECT event_id, event_type AS m_type, user_id AS m_uid, 2 AS n_keys
         FROM events""",
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, round(p.purchase_value, 6) AS purchase_value
         FROM events e ASOF LEFT JOIN
           (SELECT user_id, ts, max(value) AS purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
           ON e.user_id = p.user_id AND e.ts >= p.ts""",
    "q_asof_forward" ->
      """SELECT e.event_id, e.user_id,
         round(p.next_purchase_value, 6) AS next_purchase_value
         FROM events e ASOF LEFT JOIN
           (SELECT user_id, ts, max(value) AS next_purchase_value
            FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts) p
           ON e.user_id = p.user_id AND e.ts <= p.ts""",
    "q_range_join" ->
      """SELECT a.o_orderkey AS a_orderkey, b.o_orderkey AS b_orderkey
         FROM orders a JOIN orders b ON a.o_custkey = b.o_custkey
           AND b.o_orderdate BETWEEN a.o_orderdate - INTERVAL 30 DAY
                                 AND a.o_orderdate + INTERVAL 30 DAY""",
    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
         lag(o_totalprice, 1) OVER w1 AS prev_price,
         lead(o_totalprice, 1) OVER w1 AS next_price,
         ntile(4) OVER w1 AS quartile,
         rank() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
         round(percent_rank() OVER (PARTITION BY o_custkey
           ORDER BY o_totalprice, o_orderkey), 6) AS price_pctrank
         FROM orders
         WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "q_salted_join" ->
      """SELECT e.event_id, e.event_type, d.type_avg
         FROM events e JOIN
           (SELECT event_type, round(avg(value), 6) AS type_avg
            FROM events GROUP BY event_type) d
           ON e.event_type = d.event_type""",
    "q_explode_words" ->
      """SELECT word, count(*) AS n
         FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS word
               FROM documents WHERE trim(text) <> '') t
         GROUP BY word ORDER BY n DESC, word LIMIT 20""",
    "q_array_agg" ->
      """SELECT user_id,
         array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types,
         count(*) AS n FROM events GROUP BY user_id""",
    "q_date_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         year(l_shipdate)::INT AS ship_year,
         month(l_shipdate)::INT AS ship_month,
         day(l_shipdate)::INT AS ship_day,
         l_shipdate::DATE + 30 AS ship_plus30,
         date_diff('day', l_shipdate::DATE, DATE '2000-01-01')::INT AS days_to_2000
         FROM lineitem""",
    "q_string_funcs" ->
      """SELECT p_partkey,
         upper(p_name) AS name_upper,
         length(p_name)::INT AS name_len,
         substr(p_name, 1, 8) AS name_pfx,
         replace(p_name, ' ', '_') AS name_snake,
         split_part(p_name, ' ', 1) AS first_word,
         lpad(p_brand, 12, '*') AS brand_pad,
         concat_ws('|', p_brand, p_type) AS brand_type,
         reverse(p_name) AS name_rev
         FROM part""",
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
         round(abs(l_discount - 0.05), 6) AS abs_disc,
         ceil(l_quantity)::BIGINT AS ceil_qty,
         floor(l_quantity)::BIGINT AS floor_qty,
         round(sqrt(l_extendedprice), 6) AS sqrt_price,
         round(ln(l_extendedprice), 6) AS ln_price,
         round(pow(l_discount, 2), 6) AS disc_sq,
         l_orderkey % 7 AS mod7,
         round(greatest(l_tax, l_discount), 6) AS tax_or_disc
         FROM lineitem""",
    "q_centroid" ->
      """SELECT label, i - 1 AS dim, round(avg(embedding[i]), 4) + 0.0 AS centroid
         FROM embeddings CROSS JOIN generate_series(1, 64) AS t(i)
         GROUP BY label, i""",

    // same (ts, event_id) total order inside string_agg
    "pipeline_user_sequences" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
         md5(string_agg(event_type, ',' ORDER BY ts, event_id)) AS seq_fp
         FROM events
         WHERE event_type IS NOT NULL AND ts IS NOT NULL
           AND event_id IS NOT NULL
         GROUP BY user_id""",
    "q_funnel_windowed" ->
      """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
           JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > v.tv
             AND e.ts <= v.tv + INTERVAL 72 HOUR GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
           JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > c.tc
             AND e.ts <= c.tc + INTERVAL 72 HOUR GROUP BY 1)
         SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
           (SELECT count(*) FROM c)::BIGINT AS n_click_72h,
           (SELECT count(*) FROM p)::BIGINT AS n_purchase_72h""",
    "q_anomaly" ->
      """WITH daily AS (SELECT event_type, ts::DATE AS day,
           count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
         stats AS (SELECT event_type, avg(n) AS mu, stddev_samp(n) AS sd
           FROM daily GROUP BY 1)
         SELECT d.event_type, d.day, d.n,
           round((d.n - s.mu) / s.sd, 4) AS z
         FROM daily d JOIN stats s USING (event_type)
         WHERE abs(round((d.n - s.mu) / s.sd, 4)) > 2""",
    "q_funnel_n" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN s1 USING (user_id)
           WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN s2 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1),
         s4 AS (SELECT e.user_id, min(e.ts) AS t4 FROM events e
           JOIN s3 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1)
         SELECT (SELECT count(*) FROM s1)::BIGINT AS n_step_1,
           (SELECT count(*) FROM s2)::BIGINT AS n_step_2,
           (SELECT count(*) FROM s3)::BIGINT AS n_step_3,
           (SELECT count(*) FROM s4)::BIGINT AS n_step_4""",
    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
           WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
           JOIN v USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1),
         p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
           JOIN c USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1)
         SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
           (SELECT count(*) FROM c)::BIGINT AS n_click_after_view,
           (SELECT count(*) FROM p)::BIGINT AS n_purchase_after_click,
           round((SELECT count(*) FROM c)::DOUBLE /
             (SELECT count(*) FROM v), 6) AS view_to_click,
           round((SELECT count(*) FROM p)::DOUBLE /
             (SELECT count(*) FROM c), 6) AS click_to_purchase""",
    // same floored epoch seconds and integer week arithmetic
    "q_retention" ->
      """WITH e AS (SELECT user_id, floor(epoch(ts))::BIGINT AS sec
           FROM events),
         f AS (SELECT user_id, min(sec) AS first_sec FROM e GROUP BY 1),
         cells AS (SELECT DISTINCT e.user_id,
             ((f.first_sec - 1704067200) // 604800) AS cohort_week,
             ((e.sec - f.first_sec) // 604800) AS week_offset
           FROM e JOIN f USING (user_id))
         SELECT cohort_week::BIGINT AS cohort_week,
           week_offset::BIGINT AS week_offset, count(*)::BIGINT AS n_users
         FROM cells GROUP BY 1, 2""",
    "q_sessionize" ->
      """WITH g AS (
           SELECT user_id, ts::TIMESTAMP AS ts,
             CASE WHEN ts::TIMESTAMP - lag(ts::TIMESTAMP)
               OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
             THEN 1 ELSE 0 END AS new_s
           FROM events),
         s AS (
           SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
           FROM g)
         SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end, count(*) AS n
         FROM s GROUP BY user_id, sid""",

    "q_sliding_events" ->
      """SELECT make_timestamp(((floor(epoch(ts::TIMESTAMP)/1800)*1800 - i*1800)
               * 1000000)::BIGINT) AS window_start,
             event_type, count(*) AS n
         FROM events CROSS JOIN generate_series(0, 1) AS t(i)
         GROUP BY 1, 2""",

    "text_tokens" ->
      """SELECT doc_id, CASE WHEN trim(text) = '' THEN 0
         ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_tokens
         FROM documents""",
    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
           FROM documents)
         SELECT doc_id,
           len(toks)::BIGINT AS n_tokens,
           round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
             (length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]-]', '', 'g')))::DOUBLE
             / length(text)::DOUBLE END, 6) AS punct_ratio,
           round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             len(list_filter(toks, x -> list_contains($stopwordListSql, x)))::DOUBLE
             / len(toks)::DOUBLE END, 6) AS stopword_ratio,
           round(
             least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
             + least((CASE WHEN len(toks) = 0 THEN 0.0 ELSE
                 len(list_filter(toks, x -> list_contains($stopwordListSql, x)))::DOUBLE
                 / len(toks)::DOUBLE END) * 4.0, 1.0) * 0.4
             + greatest(1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
                 (length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]-]', '', 'g')))::DOUBLE
                 / length(text)::DOUBLE END) * 5.0, 0.0) * 0.2, 6) AS quality
         FROM t""",
    "text_langid" -> langIdOracle,
    "text_subwords" -> bpeOracle,
    "text_subwords_bytes" -> bpeBytesOracle,
    // SQL re-TRAINING (6 unrolled count→argmax→apply stages), not replay
    "text_bpe_train" -> bpeTrainOracle(6),
    // ids flattened to a space-joined CSV (array_to_string) so the
    // checker's row sort can ingest the column — mirrors the Spark side
    "text_token_ids" ->
      s"""SELECT doc_id, array_to_string(token_ids, ' ') AS token_ids_csv
         FROM ($bpeIdsOracle)""",
    // same ids replay nested, then 32-wide / stride-24 window slices
    "text_bpe_chunks" ->
      s"""WITH ids AS (SELECT doc_id, token_ids FROM ($bpeIdsOracle)
           WHERE token_ids IS NOT NULL AND len(token_ids) > 0),
         ch AS (SELECT doc_id, token_ids,
             unnest(generate_series(0,
               greatest((len(token_ids) - 8 + 23) // 24, 1) - 1)) AS chunk_idx
           FROM ids)
         SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
           array_to_string(token_ids[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ')
             AS token_ids_csv,
           len(token_ids[chunk_idx*24 + 1 : chunk_idx*24 + 32])::BIGINT AS n_tokens
         FROM ch""",
    // ids replay nested, then the GLOBAL stream layout: every doc's ids
    // + EOD in ascending-id order, global positions via an exclusive
    // running sum, 64-wide windows by integer position division
    "pipeline_token_stream" -> {
      val eod = graft.functions.Bpe.defaultByteVocab.size
      s"""WITH ids0 AS (SELECT doc_id, token_ids FROM ($bpeIdsOracle)
           WHERE token_ids IS NOT NULL),
         ids AS (SELECT doc_id, list_concat(token_ids, [$eod]) AS t FROM ids0),
         off AS (SELECT doc_id, t,
             coalesce(sum(len(t)) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
           FROM ids),
         flat AS (SELECT s + unnest(range(0, len(t))) AS pos, unnest(t) AS tok
           FROM off)
         SELECT (pos // 64)::BIGINT AS window_idx,
           array_to_string(list(tok ORDER BY pos), ' ') AS token_ids_csv,
           count(*)::BIGINT AS n_tokens
         FROM flat GROUP BY 1"""
    },
    "text_line_dedup" ->
      """WITH l AS (
           SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
             unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
           FROM documents WHERE text IS NOT NULL),
         k AS (
           SELECT doc_id, pos, line,
             (trim(line) = '' OR row_number() OVER (
                PARTITION BY CASE WHEN trim(line) = '' THEN NULL ELSE line END
                ORDER BY doc_id, pos) = 1) AS keep
           FROM l),
         r AS (
           SELECT doc_id,
             array_to_string(list(line ORDER BY pos) FILTER (WHERE keep),
               chr(10)) AS text
           FROM k GROUP BY doc_id)
         SELECT d.doc_id, md5(r.text) AS text_digest
         FROM documents d LEFT JOIN r USING (doc_id)""",
    // same tiling the Spark side does: 8-token blocks, first (doc_id,
    // bidx) occurrence of each distinct block wins, remainder tail kept
    "text_span_dedup" -> spanDedupSql(""),
    // the incremental rebuild (new batch vs persisted block index) must
    // equal the full-corpus rebuild restricted to the new ids
    "dedup_incremental_spans" -> spanDedupSql("WHERE d.doc_id >= 250"),
    // takedown replay on the span-block index: old-corpus first
    // occurrences minus victim-owned keys (owner-forgetting — a key
    // first owned by a victim is gone even if a surviving old doc also
    // held it), then the new batch's span dedup against the reduced set
    "dedup_spans_deleted" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
           FROM documents WHERE text IS NOT NULL),
         n AS (SELECT doc_id, toks, len(toks) // 8 AS nb FROM t),
         b AS (SELECT doc_id, toks, unnest(generate_series(0, nb - 1)) AS bidx
               FROM n WHERE nb > 0),
         bb AS (SELECT doc_id, bidx,
                  array_to_string(toks[bidx*8 + 1 : bidx*8 + 8], ' ') AS btext
                FROM b),
         w_old AS (SELECT btext,
             min(doc_id * 2147483648 + bidx) // 2147483648 AS wid
           FROM bb WHERE doc_id < 250 GROUP BY btext),
         oidx AS (SELECT btext FROM w_old WHERE wid % 9 <> 2),
         f AS (SELECT doc_id, bidx, btext,
                 row_number() OVER (PARTITION BY btext ORDER BY doc_id, bidx)
                   AS rn
               FROM bb WHERE doc_id >= 250),
         h AS (SELECT f.doc_id, list(f.btext ORDER BY f.bidx) AS blocks
               FROM f LEFT JOIN oidx USING (btext)
               WHERE f.rn = 1 AND oidx.btext IS NULL
               GROUP BY f.doc_id),
         r AS (SELECT n.doc_id,
                 coalesce(array_to_string(list_concat(
                   coalesce(h.blocks, []::VARCHAR[]),
                   n.toks[n.nb*8 + 1 : len(n.toks)]), ' '), '') AS text
               FROM n LEFT JOIN h USING (doc_id) WHERE n.doc_id >= 250)
         SELECT d.doc_id, md5(r.text) AS text_digest
         FROM documents d LEFT JOIN r USING (doc_id) WHERE d.doc_id >= 250""",
    // per-source roll-up of the SAME per-doc formulas the text_quality /
    // text_langid / text_gopher oracles use (unrounded per doc, rounded
    // once at the mean); null-text docs count in n_docs only
    "pipeline_curation_report" ->
      s"""WITH t AS (SELECT source, text,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks,
           ' ' || lower(text) || ' ' AS p
         FROM documents),
         sc AS (SELECT source, text, toks,
             ${langScoreSql("en")} AS s_en, ${langScoreSql("de")} AS s_de,
             ${langScoreSql("fr")} AS s_fr, ${langScoreSql("es")} AS s_es
           FROM t),
         d AS (SELECT source, text,
             len(toks)::BIGINT AS nt,
             least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
             + least((CASE WHEN len(toks) = 0 THEN 0.0 ELSE
                 len(list_filter(toks, x -> list_contains($stopwordListSql, x)))::DOUBLE
                 / len(toks)::DOUBLE END) * 4.0, 1.0) * 0.4
             + greatest(1.0 - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
                 (length(text) - length(regexp_replace(text, '[.,!?;:''"()\\[\\]-]', '', 'g')))::DOUBLE
                 / length(text)::DOUBLE END) * 5.0, 0.0) * 0.2 AS q,
             $langCaseSql AS lang,
             (len(toks) BETWEEN 50 AND 100000) AND
               (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
                list_sum(list_transform(toks, x -> length(x)))::DOUBLE
                / len(toks) END BETWEEN 3.0 AND 10.0) AS gp
           FROM sc)
         SELECT source,
           count(*)::BIGINT AS n_docs,
           count(text)::BIGINT AS n_docs_text,
           coalesce(sum(nt), 0)::BIGINT AS total_tokens,
           round(sum(round(q * 1e6))::DOUBLE / count(q) / 1e6, 6)
             AS avg_quality,
           count(*) FILTER (WHERE gp)::BIGINT AS n_gopher_pass,
           count(*) FILTER (WHERE lang = 'en')::BIGINT AS n_en
         FROM d GROUP BY source""",
    // full KMV replay per source pair: the same char-5-shingle set the
    // minhash oracle builds, 60-bit md5 hashes, k-smallest canonical
    // sketches, and the q_theta_sets estimator chain over each pair
    "pipeline_curation_overlap" ->
      s"""WITH n0 AS (SELECT source,
             regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS n
           FROM documents WHERE text IS NOT NULL),
         t AS (SELECT DISTINCT source, unnest(list_transform(
             generate_series(1, length(n)-4), i -> n[i:i+4])) AS sh
           FROM n0),
         hm AS (SELECT source, md5(sh) AS m FROM t),
         hh AS (SELECT source, $md5Hash60Sql AS h FROM hm),
         sk AS (SELECT source, list_sort(list(DISTINCT h))[1:64] AS s
           FROM hh GROUP BY source),
         pr AS (SELECT a.source AS source_a, b.source AS source_b,
             a.s AS sa, b.s AS sb,
             list_sort(list_distinct(a.s || b.s))[1:64] AS u
           FROM sk a JOIN sk b ON a.source < b.source),
         est AS (SELECT source_a, source_b,
             CASE WHEN len(u) < 64 THEN len(u)::DOUBLE
                  ELSE 63.0 / (u[64]::DOUBLE / 1152921504606846976.0)
             END AS eu,
             len(list_filter(u, x -> list_contains(sa, x)
               AND list_contains(sb, x))) AS cc,
             len(u) AS ul
           FROM pr)
         SELECT source_a, source_b,
           round(eu, 6) AS est_union,
           round(CASE WHEN ul = 0 THEN 0.0
                 ELSE (cc::DOUBLE / ul::DOUBLE) * eu END, 6) AS est_shared,
           round(CASE WHEN ul = 0 THEN NULL
                 ELSE cc::DOUBLE / ul::DOUBLE END, 6) AS jaccard_est
         FROM est""",
    // same arithmetic chain: weights normalized over PRESENT sources
    // (src99 drops out), round-then-floor at each step, 2-epoch cap,
    // shortfall never negative
    "pipeline_mixture_plan" ->
      """WITH tok AS (SELECT source, count(*) AS n_docs,
             sum(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT
               AS n_tokens
           FROM documents GROUP BY source),
         w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3),
           ('src2', 0.15), ('src3', 0.05), ('src99', 1.0)),
         norm AS (SELECT sum(wt) AS nw FROM w
                  WHERE source IN (SELECT source FROM tok)),
         base AS (SELECT t.source, n_docs, n_tokens,
             round(coalesce(w.wt, 0) / nw, 6) AS weight
           FROM tok t LEFT JOIN w USING (source) CROSS JOIN norm),
         b2 AS (SELECT *, floor(weight * 100000)::BIGINT AS target_tokens
                FROM base),
         b3 AS (SELECT *, round(least(2.0, target_tokens::DOUBLE /
                  greatest(n_tokens::DOUBLE, 1.0)), 6) AS rate FROM b2),
         b4 AS (SELECT *, floor(rate * n_tokens)::BIGINT AS planned_tokens
                FROM b3)
         SELECT source, n_docs, n_tokens, weight, target_tokens, rate,
           planned_tokens,
           greatest(target_tokens - planned_tokens, 0)::BIGINT
             AS shortfall_tokens
         FROM b4""",
    // exact asymmetric containment |E∩D|/|E| over the same distinct
    // 5-char shingle space; filter on the raw ratio, round for output
    "pipeline_decontaminate_containment" -> containmentOracle,
    // persisted-shingle-index probe ⇒ same answer as the direct scan —
    // equality IS the index's contract
    "pipeline_decontaminate_containment_indexed" -> containmentOracle,
    // the deletion face answers as if built over corpus-minus-victims
    "pipeline_decontaminate_containment_deleted" ->
      containmentOracleWhere(" AND doc_id % 9 <> 2"),
    // exact bipartite shingle-jaccard: corpus (id % 10 != 0) vs eval set
    // (id % 10 = 0); the LSH path's banding is recall-complete here
    // (matches at j >= 0.93), so LSH output == the exact pair set
    "pipeline_decontaminate_fuzzy" ->
      """WITH t AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, length(n)-4), i -> n[i:i+4])) AS g
           FROM (SELECT doc_id,
                   regexp_replace(trim(lower(nfc_normalize(text))), '\s+', ' ', 'g') AS n
                 FROM documents WHERE text IS NOT NULL)),
         p AS (SELECT a.doc_id AS doc_id,
                 len(list_intersect(a.g, b.g)) AS i,
                 len(a.g) AS na, len(b.g) AS nb
               FROM t a JOIN t b
                 ON a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0),
         j AS (SELECT doc_id,
                 CASE WHEN na + nb - i = 0 THEN 0.0
                      ELSE i::DOUBLE / (na + nb - i)::DOUBLE END AS j
               FROM p)
         SELECT doc_id, count(*)::BIGINT AS n_bench_matches,
           round(max(j), 6) AS max_jaccard
         FROM j WHERE j >= 0.4 GROUP BY doc_id""",
    // full unigram replay: same seed-vocab construction (counts, top-k
    // by cnt*(len-1) with piece tie-break, micro-nat ln scores), then
    // the integer Viterbi as a recursive CTE carrying each word's dp/np
    // vectors as lists — all comparisons and sums in exact BIGINTs, so
    // the engines cannot drift; tie-break = max score then fewest pieces
    // (list_max over {bl, bn=-n} structs)
    "text_unigram_tokenize" ->
      """WITH RECURSIVE tdocs AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
         FROM documents WHERE text IS NOT NULL),
         toks AS (SELECT doc_id, unnest(toks) AS w FROM tdocs),
         pieces AS (SELECT unnest(flatten(list_transform(
             generate_series(1, length(w)), i ->
               list_transform(generate_series(1, least(4, length(w) - i + 1)),
                 l -> w[i:i+l-1])))) AS p
           FROM toks),
         cnts AS (SELECT p, count(*)::BIGINT AS cnt FROM pieces GROUP BY p),
         multi AS (SELECT p, cnt FROM cnts WHERE length(p) > 1
                   ORDER BY cnt * (length(p) - 1) DESC, p ASC LIMIT 200),
         sel AS (SELECT p, cnt FROM cnts WHERE length(p) = 1
                 UNION ALL SELECT p, cnt FROM multi),
         tot AS (SELECT sum(cnt)::DOUBLE AS t FROM sel),
         voc AS (SELECT p, round(ln(cnt::DOUBLE / t) * 1000000)::BIGINT AS lp
                 FROM sel CROSS JOIN tot),
         vm AS (SELECT map_from_entries(list({'k': p, 'v': lp})) AS m FROM voc),
         words AS (SELECT DISTINCT w FROM toks),
         rec AS (
           SELECT w, [CAST(0 AS BIGINT)] AS dp, [CAST(0 AS BIGINT)] AS np, 0 AS i
           FROM words
           UNION ALL
           SELECT w, list_append(dp, b['bl']), list_append(np, -b['bn']), i + 1
           FROM (
             SELECT w, dp, np, i,
               list_max(list_filter(
                 list_transform(generate_series(greatest(0, i + 1 - 4), i), j ->
                   {'bl': dp[j + 1] + coalesce(
                       element_at(vm.m, w[j + 1 : i + 1])[1],
                       CASE WHEN i - j = 1 THEN -23000000 ELSE NULL END),
                    'bn': -(np[j + 1] + 1)}),
                 c -> c['bl'] IS NOT NULL)) AS b
             FROM rec, vm
             WHERE i < length(w)
           )
         ),
         scored AS (SELECT w, dp[length(w) + 1] AS wl, np[length(w) + 1] AS wn
                    FROM rec WHERE i = length(w)),
         per_doc AS (SELECT doc_id, sum(wl) AS lp_micro, sum(wn) AS n_pieces
           FROM toks JOIN scored USING (w) GROUP BY doc_id)
         SELECT doc_id, n_pieces::BIGINT AS n_pieces,
           lp_micro / 1000000.0 AS logprob
         FROM per_doc""",
    // full WordPiece replay: same position-split seed vocab (counts,
    // top-k by cnt*(len-1) with piece-then-kind tie-break), then the
    // greedy longest-match walk as a recursive CTE — one piece per
    // iteration, longest matching length via list_max, single-char
    // fallback via coalesce(…, 1); pure string/integer arithmetic, so
    // the engines cannot drift and the pieces digest checks the exact
    // segmentation. The two `least(4, …)` bounds below are COUPLED to
    // the query's seedVocab(maxPieceLen = 4): a vocabulary with longer
    // pieces would need this replay bound raised to its true max piece
    // length (see WordPiece.Segmenter.segmentWord)
    "text_wordpiece" ->
      """WITH RECURSIVE tdocs AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
         FROM documents WHERE text IS NOT NULL),
         toks AS (SELECT doc_id, unnest(toks) AS w,
                  unnest(generate_series(1, len(toks))) AS widx FROM tdocs),
         pcs AS (SELECT unnest(flatten(list_transform(
             generate_series(1, length(w)), i ->
               list_transform(generate_series(1, least(4, length(w) - i + 1)),
                 l -> {'p': w[i:i+l-1],
                       'k': CASE WHEN i = 1 THEN 0 ELSE 1 END})))) AS pk
           FROM toks),
         cnts AS (SELECT pk['p'] AS p, pk['k'] AS k, count(*)::BIGINT AS cnt
                  FROM pcs GROUP BY 1, 2),
         multi AS (SELECT p, k FROM cnts WHERE length(p) > 1
                   ORDER BY cnt * (length(p) - 1) DESC, p ASC, k ASC LIMIT 200),
         sel AS (SELECT p, k FROM cnts WHERE length(p) = 1
                 UNION ALL SELECT p, k FROM multi),
         vs AS (SELECT map_from_entries(list({'k': p, 'v': TRUE})) AS m
                FROM sel WHERE k = 0),
         vc AS (SELECT map_from_entries(list({'k': p, 'v': TRUE})) AS m
                FROM sel WHERE k = 1),
         words AS (SELECT DISTINCT w FROM toks),
         rec AS (
           SELECT w, 0 AS pos, CAST('' AS VARCHAR) AS acc,
             CAST(0 AS BIGINT) AS n
           FROM words
           UNION ALL
           SELECT w, pos + tk,
             CASE WHEN pos = 0 THEN w[1:tk]
                  ELSE acc || chr(31) || w[pos+1 : pos+tk] END,
             n + 1
           FROM (
             SELECT w, pos, acc, n,
               coalesce(list_max(list_filter(
                 list_transform(
                   generate_series(1, least(4, length(w) - pos)), l ->
                     CASE WHEN (CASE WHEN pos = 0
                                THEN element_at(vs.m, w[pos+1 : pos+l])[1]
                                ELSE element_at(vc.m, w[pos+1 : pos+l])[1]
                                END)
                          THEN l ELSE NULL END),
                 x -> x IS NOT NULL)), 1) AS tk
             FROM rec, vs, vc
             WHERE pos < length(w)
           )
         ),
         seg AS (SELECT w, acc, n FROM rec WHERE pos = length(w)),
         per_doc AS (SELECT doc_id, sum(n)::BIGINT AS n_pieces,
             md5(string_agg(acc, chr(30) ORDER BY widx)) AS pieces_fp
           FROM toks JOIN seg USING (w) GROUP BY doc_id)
         SELECT doc_id, n_pieces, pieces_fp FROM per_doc""",
    // same tiling universe: non-null-text docs, 8-token blocks, distinct
    // on the block text (the 60-bit digest is collision-free here)
    "text_span_stats" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
         FROM documents WHERE text IS NOT NULL),
         n AS (SELECT doc_id, toks, len(toks) // 8 AS nb FROM t),
         b AS (SELECT doc_id, toks, unnest(generate_series(0, nb - 1)) AS bidx
               FROM n WHERE nb > 0),
         bb AS (SELECT array_to_string(toks[bidx*8 + 1 : bidx*8 + 8], ' ')
                  AS btext FROM b),
         ta AS (SELECT count(*)::BIGINT AS n_docs,
                  coalesce(sum(len(toks)), 0)::BIGINT AS total_tokens FROM n),
         ba AS (SELECT count(*)::BIGINT AS n_blocks,
                  count(DISTINCT btext)::BIGINT AS n_distinct_blocks FROM bb)
         SELECT n_docs, total_tokens, n_blocks, n_distinct_blocks,
           round((n_blocks - n_distinct_blocks) * 8 /
             greatest(total_tokens, 1)::DOUBLE, 6) AS dup_token_fraction
         FROM ta CROSS JOIN ba""",
    // sliding windows every 4 tokens; dup windows mark [start, start+8),
    // text rebuilt from tokens outside all marked ranges
    "text_span_dedup_sliding" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
           FROM documents WHERE text IS NOT NULL),
         n AS (SELECT doc_id, toks,
                 CASE WHEN len(toks) >= 8 THEN (len(toks) - 8) // 4 + 1
                      ELSE 0 END AS nw FROM t),
         w AS (SELECT doc_id, toks, unnest(generate_series(0, nw - 1)) AS widx
               FROM n WHERE nw > 0),
         ww AS (SELECT doc_id, widx * 4 AS wstart,
                  array_to_string(toks[widx*4 + 1 : widx*4 + 8], ' ') AS wtext
                FROM w),
         f AS (SELECT doc_id, wstart,
                 row_number() OVER (PARTITION BY wtext ORDER BY doc_id, wstart) AS rn
               FROM ww),
         m AS (SELECT doc_id, list(wstart) AS starts
               FROM f WHERE rn > 1 GROUP BY doc_id),
         r AS (SELECT n.doc_id,
                 coalesce(array_to_string(
                   list_filter(n.toks, (tok, i) -> len(list_filter(
                     coalesce(m.starts, []::INTEGER[]),
                     st -> i BETWEEN st + 1 AND st + 8)) = 0), ' '), '') AS text
               FROM n LEFT JOIN m USING (doc_id))
         SELECT d.doc_id, md5(r.text) AS text_digest
         FROM documents d LEFT JOIN r USING (doc_id)""",
    "text_fingerprint" ->
      """SELECT doc_id, md5(array_to_string(list_sort(list_distinct(
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+') END)), ' ')) AS fp
         FROM documents""",

    "q6_forecast" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01'
           AND l_shipdate < TIMESTAMP '1997-01-01'
           AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24""",
    "q_returned_items" ->
      """SELECT c_custkey, c_name,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE l_returnflag = 'R'
         GROUP BY c_custkey, c_name
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "text_tfidf" ->
      """WITH terms AS (
           SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents WHERE trim(text) <> ''),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         df AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY 1),
         n AS (SELECT count(*) AS n FROM documents)
         SELECT doc_id, term, tf,
           round(tf * ln(n.n::DOUBLE / df.df), 6) AS tfidf
         FROM tf JOIN df USING (term) CROSS JOIN n""",
    // DuckDB's utf8proc-backed twins of the JDK Normalizer: same TR-15
    // canonical algorithm, so digests replay exactly; the injected tail
    // carries the IDENTICAL codepoints (decomposed e+U+0301, u+U+0308;
    // precomposed ß, ë)
    "text_unicode_norm" ->
      (s"""WITH t AS (SELECT doc_id,
             coalesce(text, '') || '$unicodeTail' AS t FROM documents)
         SELECT doc_id, length(t)::INT AS len_raw,
           length(nfc_normalize(t))::INT AS len_nfc,
           md5(nfc_normalize(t)) AS nfc_md5,
           md5(strip_accents(t)) AS folded_md5
         FROM t"""),
    // exact integer replay of the rolling boundary rule: codepoint
    // polynomial Σ code·31^(8−j) over the 8-char window ending at i,
    // boundary when ≡ 0 (mod 64); chunks from consecutive boundary
    // spans, the final (n+1, n) pair degenerate when a boundary lands
    // exactly at n (both engines drop it)
    "text_cdc_chunks" ->
      """WITH base AS (SELECT doc_id,
             regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) > 0),
         b AS (SELECT doc_id, t, length(t)::INT AS n,
             list_filter(generate_series(8, length(t)::INT), i ->
               list_sum(list_transform(generate_series(1, 8), j ->
                 ascii(substr(t, i - 8 + j, 1))::BIGINT
                   * ((31 ** (8 - j))::BIGINT))) % 64 = 0) AS bd
           FROM base),
         c AS (SELECT doc_id, t,
             list_concat([1], list_transform(bd, x -> x + 1)) AS ss,
             list_concat(bd, [n]) AS ee
           FROM b)
         SELECT doc_id, (k - 1)::INT AS chunk_idx,
           (ee[k] - ss[k] + 1)::INT AS chunk_len,
           md5(substr(t, ss[k], ee[k] - ss[k] + 1)) AS chunk_md5
         FROM c, unnest(generate_series(1, len(ss))) AS u(k)
         WHERE ee[k] >= ss[k]""",
    // the CDC chunk stream feeding first-occurrence min-(doc, idx)
    // winners and an in-order reassembly digest per doc; docs whose
    // every chunk lost reassemble to md5('')
    "text_cdc_dedup" ->
      """WITH base AS (SELECT doc_id,
             regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) > 0),
         b AS (SELECT doc_id, t, length(t)::INT AS n,
             list_filter(generate_series(8, length(t)::INT), i ->
               list_sum(list_transform(generate_series(1, 8), j ->
                 ascii(substr(t, i - 8 + j, 1))::BIGINT
                   * ((31 ** (8 - j))::BIGINT))) % 64 = 0) AS bd
           FROM base),
         c AS (SELECT doc_id, t,
             list_concat([1], list_transform(bd, x -> x + 1)) AS ss,
             list_concat(bd, [n]) AS ee
           FROM b),
         ch AS (SELECT doc_id, (k - 1)::INT AS idx,
             substr(t, ss[k], ee[k] - ss[k] + 1) AS chunk
           FROM c, unnest(generate_series(1, len(ss))) AS u(k)
           WHERE ee[k] >= ss[k]),
         -- lexicographic min(doc_id, idx) packed into one BIGINT
         -- (idx < 2^31), replicating Spark's min(struct(id, idx))
         w AS (SELECT md5(chunk) AS d,
             min(doc_id * 2147483648 + idx) // 2147483648 AS wid,
             min(doc_id * 2147483648 + idx) % 2147483648 AS widx
           FROM ch GROUP BY md5(chunk)),
         keep AS (SELECT ch.* FROM ch JOIN w
           ON md5(ch.chunk) = w.d AND ch.doc_id = w.wid AND ch.idx = w.widx),
         re AS (SELECT doc_id, count(*)::BIGINT AS n_chunks_kept,
             md5(string_agg(chunk, '' ORDER BY idx)) AS dedup_md5
           FROM keep GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
                 FROM ch GROUP BY doc_id)
         SELECT tot.doc_id, tot.n_chunks,
           coalesce(re.n_chunks_kept, 0) AS n_chunks_kept,
           coalesce(re.dedup_md5, md5('')) AS dedup_md5
         FROM tot LEFT JOIN re USING (doc_id)""",
    // the incremental contract: index over ids < 250, dedup the new
    // batch against it == the FULL-corpus rebuild restricted to the new
    // ids (existing ids sort before new ids, so global winners among
    // new docs are exactly the batch winners not already indexed)
    "text_cdc_dedup_incremental" ->
      """WITH base AS (SELECT doc_id,
             regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) > 0),
         b AS (SELECT doc_id, t, length(t)::INT AS n,
             list_filter(generate_series(8, length(t)::INT), i ->
               list_sum(list_transform(generate_series(1, 8), j ->
                 ascii(substr(t, i - 8 + j, 1))::BIGINT
                   * ((31 ** (8 - j))::BIGINT))) % 64 = 0) AS bd
           FROM base),
         c AS (SELECT doc_id, t,
             list_concat([1], list_transform(bd, x -> x + 1)) AS ss,
             list_concat(bd, [n]) AS ee
           FROM b),
         ch AS (SELECT doc_id, (k - 1)::INT AS idx,
             substr(t, ss[k], ee[k] - ss[k] + 1) AS chunk
           FROM c, unnest(generate_series(1, len(ss))) AS u(k)
           WHERE ee[k] >= ss[k]),
         w AS (SELECT md5(chunk) AS d,
             min(doc_id * 2147483648 + idx) // 2147483648 AS wid,
             min(doc_id * 2147483648 + idx) % 2147483648 AS widx
           FROM ch GROUP BY md5(chunk)),
         keep AS (SELECT ch.* FROM ch JOIN w
           ON md5(ch.chunk) = w.d AND ch.doc_id = w.wid AND ch.idx = w.widx),
         re AS (SELECT doc_id, count(*)::BIGINT AS n_chunks_kept,
             md5(string_agg(chunk, '' ORDER BY idx)) AS dedup_md5
           FROM keep GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
                 FROM ch GROUP BY doc_id)
         SELECT tot.doc_id, tot.n_chunks,
           coalesce(re.n_chunks_kept, 0) AS n_chunks_kept,
           coalesce(re.dedup_md5, md5('')) AS dedup_md5
         FROM tot LEFT JOIN re USING (doc_id)
         WHERE tot.doc_id >= 250""",
    // takedown replay: the old-corpus first-occurrence index MINUS
    // victim-owned entries (owner % 9 = 2 — the owner-forgetting
    // semantics: a digest first owned by a victim is gone even if a
    // surviving old doc also held it), then the new batch's dedup
    // against that reduced digest set
    "text_cdc_deleted" ->
      """WITH base AS (SELECT doc_id,
             regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
           FROM documents
           WHERE text IS NOT NULL
             AND length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) > 0),
         b AS (SELECT doc_id, t, length(t)::INT AS n,
             list_filter(generate_series(8, length(t)::INT), i ->
               list_sum(list_transform(generate_series(1, 8), j ->
                 ascii(substr(t, i - 8 + j, 1))::BIGINT
                   * ((31 ** (8 - j))::BIGINT))) % 64 = 0) AS bd
           FROM base),
         c AS (SELECT doc_id, t,
             list_concat([1], list_transform(bd, x -> x + 1)) AS ss,
             list_concat(bd, [n]) AS ee
           FROM b),
         ch AS (SELECT doc_id, (k - 1)::INT AS idx,
             substr(t, ss[k], ee[k] - ss[k] + 1) AS chunk
           FROM c, unnest(generate_series(1, len(ss))) AS u(k)
           WHERE ee[k] >= ss[k]),
         w_old AS (SELECT md5(chunk) AS d,
             min(doc_id * 2147483648 + idx) // 2147483648 AS wid
           FROM ch WHERE doc_id < 250 GROUP BY md5(chunk)),
         oidx AS (SELECT d FROM w_old WHERE wid % 9 <> 2),
         w_new AS (SELECT md5(chunk) AS d,
             min(doc_id * 2147483648 + idx) // 2147483648 AS wid,
             min(doc_id * 2147483648 + idx) % 2147483648 AS widx
           FROM ch WHERE doc_id >= 250 GROUP BY md5(chunk)),
         keep AS (SELECT ch.* FROM ch JOIN w_new
             ON md5(ch.chunk) = w_new.d
               AND ch.doc_id = w_new.wid AND ch.idx = w_new.widx
           WHERE w_new.d NOT IN (SELECT d FROM oidx)),
         re AS (SELECT doc_id, count(*)::BIGINT AS n_chunks_kept,
             md5(string_agg(chunk, '' ORDER BY idx)) AS dedup_md5
           FROM keep GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
                 FROM ch WHERE doc_id >= 250 GROUP BY doc_id)
         SELECT tot.doc_id, tot.n_chunks,
           coalesce(re.n_chunks_kept, 0) AS n_chunks_kept,
           coalesce(re.dedup_md5, md5('')) AS dedup_md5
         FROM tot LEFT JOIN re USING (doc_id)""",
    // same tokenization, same non-negative idf, same k1=1.2/b=0.75, and
    // the same integer micro-unit sum — bit-for-bit replay
    "text_bm25" -> bm25Oracle,
    // the deletion channel is exact: scores equal direct bm25 over the
    // surviving docs (df/stats corrected by the negative delete deltas,
    // victim postings anti-joined out, overlapping deletes counted once)
    "text_bm25_deleted" ->
      bm25OracleWhere("WHERE NOT (doc_id % 5 = 2 OR doc_id % 7 = 3)"),
    // the indexed probe holds BIT-IDENTICAL scores to the direct scan
    // (shared scoring tail, exact-integer df/stats folds), so the two
    // queries share one oracle — equality IS the index's contract
    "text_bm25_indexed" -> bm25Oracle,
    // batched retrieval replay: per-query distinct terms, the same
    // scoring arithmetic per (query, doc), deterministic round-6 rank
    "text_bm25_join" ->
      """WITH q(qid, qtext) AS (VALUES
           ('q0', 'spark vector hash spark'),
           ('q1', 'join merge query group zeppelin'),
           ('q2', 'zeppelin qqqq zzzz')),
         qt AS (SELECT DISTINCT qid,
             unnest(regexp_split_to_array(lower(trim(qtext)), '\s+')) AS term
           FROM q),
         tok AS (SELECT doc_id,
             CASE WHEN text IS NULL THEN NULL
                  WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS t
           FROM documents),
         dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM tok WHERE t IS NOT NULL),
         stats AS (SELECT (SELECT count(*) FROM tok)::DOUBLE AS n,
                          coalesce((SELECT avg(dl) FROM dl), 1.0) AS avgdl),
         hits AS (SELECT doc_id, unnest(t) AS term FROM tok),
         tf AS (SELECT h.doc_id, term, dl.dl, count(*)::DOUBLE AS tf
                FROM hits h JOIN dl USING (doc_id)
                WHERE term IN (SELECT term FROM qt)
                GROUP BY 1, 2, 3),
         dfx AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
         sc AS (SELECT qt.qid, tf.doc_id,
             ln(1.0 + (s.n - df + 0.5) / (df + 0.5)) * tf
               * (1.2::DOUBLE + 1.0) /
               (tf + 1.2::DOUBLE * (1.0 - 0.75 + 0.75 * dl / s.avgdl)) AS sv
           FROM tf JOIN dfx USING (term) JOIN qt USING (term)
           CROSS JOIN stats s),
         agg AS (SELECT qid, doc_id, count(*)::BIGINT AS n_query_terms_hit,
             round(sum(round(sv * 1e6)::BIGINT)::DOUBLE / 1e6, 6) AS bm25
           FROM sc GROUP BY 1, 2),
         r AS (SELECT *, row_number() OVER (
             PARTITION BY qid ORDER BY bm25 DESC, doc_id) AS rank FROM agg)
         SELECT qid, doc_id, n_query_terms_hit, bm25, rank::BIGINT AS rank
         FROM r WHERE rank <= 10""",
    "pipeline_training_data" -> trainingDataOracle,
    "pipeline_decontaminate" -> decontaminateOracle,
    // bloom prefilter + exact confirm ⇒ same answer as the exact path
    "pipeline_decontaminate_bloom" -> decontaminateOracle,
    // persisted-gram-index probe ⇒ same answer as the direct scan —
    // equality IS the index's contract
    "pipeline_decontaminate_indexed" -> decontaminateOracle,
    // the deletion face answers as if built over corpus-minus-victims
    "pipeline_decontaminate_deleted" ->
      decontaminateOracleWhere(" AND doc_id % 9 <> 2"),
    // the orchestrated takedown: per registered store, the probe's
    // integer-exact reduction recomputed from a rebuild/retrain over
    // the surviving corpus (victims = id % 9 = 2 in every key space) —
    // one silently-missed store mismatches its row. Fragments are the
    // SAME parameterized replays the per-store deletion oracles use.
    "pipeline_takedown_all" -> takedownAllOracle,
    // same total order (value, orderkey, linenumber) and the same
    // integer (rank−1)·k div N bucket rule
    "q_histogram_equidepth" ->
      """WITH r AS (SELECT l_extendedprice AS x,
           row_number() OVER (
             ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS r,
           count(*) OVER () AS tot
         FROM lineitem WHERE l_extendedprice IS NOT NULL)
         SELECT ((r - 1) * 8 // tot)::BIGINT AS bucket,
           count(*)::BIGINT AS n_rows,
           round(min(x), 4) AS lo, round(max(x), 4) AS hi
         FROM r GROUP BY 1""",
    // same clamp-bucket-interleave integer arithmetic as Tables.zValue2
    "q_zorder" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
           least(65535, greatest(0,
             floor(l_partkey::DOUBLE / 20000.0 * 65536.0)::BIGINT)) AS ab,
           least(65535, greatest(0,
             floor(l_suppkey::DOUBLE / 1000.0 * 65536.0)::BIGINT)) AS bb
         FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           list_sum(list_transform(generate_series(0, 15), k ->
             (((ab >> k) & 1) << (2 * k + 1)) +
             (((bb >> k) & 1) << (2 * k))))::BIGINT AS z
         FROM b""",
    // same arithmetic at 3 columns: 16-bit buckets, column j's bit k at
    // output position 3k + (2 - j) — column order is significance order
    "q_zorder3" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
           least(65535, greatest(0,
             floor(l_partkey::DOUBLE / 20000.0 * 65536.0)::BIGINT)) AS ab,
           least(65535, greatest(0,
             floor(l_suppkey::DOUBLE / 1000.0 * 65536.0)::BIGINT)) AS bb,
           least(65535, greatest(0,
             floor(l_quantity::DOUBLE / 64.0 * 65536.0)::BIGINT)) AS cb
         FROM lineitem)
         SELECT l_orderkey, l_linenumber,
           list_sum(list_transform(generate_series(0, 15), k ->
             (((ab >> k) & 1) << (3 * k + 2)) +
             (((bb >> k) & 1) << (3 * k + 1)) +
             (((cb >> k) & 1) << (3 * k))))::BIGINT AS z
         FROM b""",
    // accuracy contract like q_approx_distinct: the oracle checks the
    // exact count and asserts the sketch-merge estimate stayed in band
    "q_hll_merge" ->
      """SELECT count(DISTINCT l_partkey)::BIGINT AS exact_parts,
         TRUE AS merged_within_5pct FROM lineitem""",
    // full replay of the DETERMINISTIC sketch (unlike HLL's library-
    // specific registers): k = smallest granularity ≥ 2^-20 whose
    // occupied power-of-two buckets fit 256, estimates = midpoint of the
    // first bucket whose cumulative count reaches q·n — merge order is
    // invisible by the sketch's canonical form, so the whole-column
    // replay equals Spark's merged-halves result bit-for-bit
    "q_quantile_merge" ->
      """WITH v AS (SELECT l_extendedprice::DOUBLE AS x FROM lineitem
                    WHERE l_extendedprice IS NOT NULL),
         ks AS (SELECT k FROM generate_series(-20, 40) t(k)
                WHERE (SELECT count(DISTINCT floor(x / pow(2, k))) FROM v) <= 256
                ORDER BY k LIMIT 1),
         b AS (SELECT floor(x / pow(2, (SELECT k FROM ks))) AS i,
                      count(*)::DOUBLE AS c FROM v GROUP BY 1),
         cum AS (SELECT i, sum(c) OVER (ORDER BY i) AS cs FROM b),
         n AS (SELECT count(*)::BIGINT AS n FROM v),
         est AS (SELECT
             round(((SELECT min(i) FROM cum, n WHERE cs >= 0.5 * n.n) + 0.5)
               * pow(2, (SELECT k FROM ks)), 6) AS p50,
             round(((SELECT min(i) FROM cum, n WHERE cs >= 0.9 * n.n) + 0.5)
               * pow(2, (SELECT k FROM ks)), 6) AS p90)
         SELECT n.n AS n_values, est.p50 AS p50_sketch, est.p90 AS p90_sketch,
           abs(est.p50 - (SELECT quantile_cont(x, 0.50) FROM v))
             <= (SELECT (max(x) - min(x)) / 64 FROM v) AS p50_within,
           abs(est.p90 - (SELECT quantile_cont(x, 0.90) FROM v))
             <= (SELECT (max(x) - min(x)) / 64 FROM v) AS p90_within
         FROM est, n""",
    // per-group replay of the deterministic sketch: each returnflag gets
    // its OWN canonical k (smallest fitting its occupied buckets), then
    // the same midpoint-at-cumulative rule as q_quantile_merge
    "q_quantile_rollup" ->
      """WITH v AS (SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS x
                    FROM lineitem WHERE l_extendedprice IS NOT NULL),
         occ AS (SELECT g, ks.k, count(DISTINCT floor(x / pow(2, ks.k))) AS c
                 FROM v CROSS JOIN
                   (SELECT unnest(generate_series(-20, 40)) AS k) ks
                 GROUP BY g, ks.k),
         kg AS (SELECT g, min(k) AS k FROM occ WHERE c <= 256 GROUP BY g),
         b AS (SELECT v.g, kg.k, floor(x / pow(2, kg.k)) AS i,
                      count(*)::DOUBLE AS c
               FROM v JOIN kg USING (g) GROUP BY v.g, kg.k, i),
         cum AS (SELECT g, k, i,
                   sum(c) OVER (PARTITION BY g ORDER BY i) AS cs FROM b),
         n AS (SELECT g, count(*)::BIGINT AS n FROM v GROUP BY g)
         SELECT n.g AS l_returnflag, n.n AS n_values,
           round(((SELECT min(i) FROM cum
                   WHERE cum.g = n.g AND cs >= 0.5 * n.n) + 0.5)
             * pow(2, (SELECT any_value(k) FROM kg WHERE kg.g = n.g)), 6)
             AS p50
         FROM n""",
    // full replay of the KMV theta sketch: 60-bit md5 hashes (the
    // engine's SQL-replicable kernel), k smallest distinct per set, and
    // the same IEEE-double estimator chain — set algebra included
    "q_theta_sets" ->
      s"""WITH d AS (SELECT DISTINCT year(o_orderdate) AS y, o_custkey AS c
           FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
         hh AS (SELECT y, ${md5Hash60Sql("c::VARCHAR")} AS h FROM d),
         sa AS (SELECT coalesce(list_sort(list(DISTINCT h))[1:64],
                  []::BIGINT[]) AS s FROM hh WHERE y = 1995),
         sb AS (SELECT coalesce(list_sort(list(DISTINCT h))[1:64],
                  []::BIGINT[]) AS s FROM hh WHERE y = 1996),
         ex AS (SELECT
             count(DISTINCT CASE WHEN y = 1995 THEN c END)::BIGINT AS exact_a,
             count(DISTINCT CASE WHEN y = 1996 THEN c END)::BIGINT AS exact_b
           FROM d),
         u AS (SELECT list_sort(list_distinct(sa.s || sb.s))[1:64] AS s
               FROM sa, sb),
         est AS (SELECT
             CASE WHEN len(sa.s) < 64 THEN len(sa.s)::DOUBLE
                  ELSE 63.0 / (sa.s[64]::DOUBLE / 1152921504606846976.0)
             END AS ea,
             CASE WHEN len(sb.s) < 64 THEN len(sb.s)::DOUBLE
                  ELSE 63.0 / (sb.s[64]::DOUBLE / 1152921504606846976.0)
             END AS eb,
             CASE WHEN len(u.s) < 64 THEN len(u.s)::DOUBLE
                  ELSE 63.0 / (u.s[64]::DOUBLE / 1152921504606846976.0)
             END AS eu,
             len(list_filter(u.s, x -> list_contains(sa.s, x)
               AND list_contains(sb.s, x))) AS cc,
             len(u.s) AS ul
           FROM sa, sb, u),
         fin AS (SELECT ea, eb, eu,
             CASE WHEN ul = 0 THEN NULL
                  ELSE cc::DOUBLE / ul::DOUBLE END AS jac,
             CASE WHEN ul = 0 THEN 0.0
                  ELSE (cc::DOUBLE / ul::DOUBLE) * eu END AS inter
           FROM est)
         SELECT ex.exact_a, ex.exact_b,
           round(ea, 6) AS est_a, round(eb, 6) AS est_b,
           round(eu, 6) AS est_union, round(inter, 6) AS est_intersect,
           round(jac, 6) AS jaccard_est,
           round(greatest(0.0, ea - inter), 6) AS est_a_not_b
         FROM fin, ex""",
    // the mergeability contract IS the oracle: Spark merges per-year
    // sketches, the replay sketches each nation's union set directly —
    // equality holds only because the KMV form is canonical
    "q_theta_rollup" ->
      s"""WITH d AS (SELECT DISTINCT n_name, o_custkey AS c
           FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey),
         hh AS (SELECT n_name, ${md5Hash60Sql("c::VARCHAR")} AS h FROM d),
         sk AS (SELECT n_name, list_sort(list(DISTINCT h))[1:64] AS s
                FROM hh GROUP BY n_name)
         SELECT n_name,
           round(CASE WHEN len(s) < 64 THEN len(s)::DOUBLE
               ELSE 63.0 / (s[64]::DOUBLE / 1152921504606846976.0) END, 6)
             AS est_active_customers
         FROM sk""",
    // same (ts, event_id) per-key total order, IS DISTINCT FROM matching
    // Spark's null-safe <=> change test, lead() for the validity end
    "q_scd2" ->
      """WITH base AS (SELECT user_id, event_id, event_type, ts,
           lag(event_type) OVER w AS prev_attr,
           lag(ts) OVER w AS prev_ts
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         v AS (SELECT user_id, event_id, event_type, ts FROM base
           WHERE prev_ts IS NULL OR prev_attr IS DISTINCT FROM event_type),
         h AS (SELECT user_id, event_id, event_type,
           ts AS effective_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS effective_to
         FROM v)
         SELECT user_id, event_id, event_type, effective_from, effective_to,
           (effective_to IS NULL) AS is_current
         FROM h""",
    // same history CTEs as q_scd2 + the validity-range left join; a
    // same-ts attribute flip yields an empty [t, t) version no fact can
    // land in, so each event still matches at most one version
    "q_scd2_lookup" ->
      """WITH base AS (SELECT user_id, event_id, event_type, ts,
           lag(event_type) OVER w AS prev_attr,
           lag(ts) OVER w AS prev_ts
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         v AS (SELECT user_id, event_id, event_type, ts FROM base
           WHERE prev_ts IS NULL OR prev_attr IS DISTINCT FROM event_type),
         h AS (SELECT user_id, event_id, event_type,
           ts AS effective_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS effective_to
         FROM v)
         SELECT e.event_id, e.user_id,
           h.event_type AS active_type, h.event_id AS version_id
         FROM events e LEFT JOIN h ON e.user_id = h.user_id
           AND e.ts >= h.effective_from
           AND (h.effective_to IS NULL OR e.ts < h.effective_to)""",
    // one FILTER-counted row per rule; same null semantics per rule kind
    "q_expectations" ->
      """SELECT rule, n_violations, (n_violations = 0) AS pass FROM (
         SELECT 'l_orderkey_not_null' AS rule,
           count(*) FILTER (WHERE l_orderkey IS NULL)::BIGINT AS n_violations
         FROM lineitem
         UNION ALL SELECT 'l_quantity_in_range',
           count(*) FILTER (WHERE l_quantity IS NOT NULL AND
             (l_quantity::DOUBLE < 1.0 OR l_quantity::DOUBLE > 30.0))::BIGINT
         FROM lineitem
         UNION ALL SELECT 'l_returnflag_accepted',
           count(*) FILTER (WHERE l_returnflag IS NOT NULL AND
             l_returnflag::VARCHAR NOT IN ('A', 'N'))::BIGINT
         FROM lineitem
         UNION ALL SELECT 'discount_le_price',
           count(*) FILTER (WHERE l_discount > l_extendedprice)::BIGINT
         FROM lineitem
         UNION ALL SELECT 'l_orderkey_l_linenumber_unique',
           coalesce((SELECT sum(c - 1) FROM (
             SELECT count(*) AS c FROM lineitem
             GROUP BY l_orderkey, l_linenumber) WHERE c > 1), 0)::BIGINT
         UNION ALL SELECT 'l_orderkey_ref_integrity',
           (SELECT count(*) FROM lineitem l
            WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
              (SELECT 1 FROM orders o
               WHERE o.o_orderkey = l.l_orderkey))::BIGINT)""",
    // same count/summary arithmetic, same (n desc, string key) tiebreak
    "q_key_skew" ->
      """WITH c AS (SELECT coalesce(user_id::VARCHAR, chr(0) || 'NULL')
             AS key, count(*)::BIGINT AS n
           FROM events GROUP BY 1),
         s AS (SELECT count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS total_rows,
           max(n)::BIGINT AS max_n FROM c)
         SELECT key, n,
           round(n::DOUBLE / total_rows * 100, 6) AS share_pct,
           n_keys, total_rows, max_n,
           round(max_n::DOUBLE * n_keys / total_rows, 6) AS skew_ratio
         FROM c CROSS JOIN s
         ORDER BY n DESC, key LIMIT 10""",
    "q_percentile_grouped" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price
         FROM lineitem GROUP BY l_returnflag""",
    "q_approx_quantile" ->
      """SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_median,
         TRUE AS approx_within_1pct
         FROM lineitem GROUP BY l_returnflag""",
    // folded-pairing replay: same (count desc, id) rank, same fold
    // pair = least(r, N+1-r), same fit/split emission at maxLen 128
    "pipeline_pack_pairs" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                ELSE len(regexp_split_to_array(lower(trim(text)), '\s+'))
           END AS n
         FROM documents),
         r AS (SELECT doc_id, n,
             row_number() OVER (ORDER BY n DESC, doc_id) AS r,
             count(*) OVER () AS total_n
           FROM t),
         p AS (SELECT doc_id, n, least(r, total_n + 1 - r) AS pair,
             CASE WHEN 2 * r <= total_n + 1 THEN 0 ELSE 1 END AS role
           FROM r),
         g AS (SELECT pair,
             min(CASE WHEN role = 0 THEN doc_id END) AS id0,
             min(CASE WHEN role = 1 THEN doc_id END) AS id1,
             min(CASE WHEN role = 0 THEN n END) AS n0,
             min(CASE WHEN role = 1 THEN n END) AS n1
           FROM p GROUP BY pair),
         s AS (
           SELECT pair * 2 AS seq_id,
             CASE WHEN id1 IS NULL THEN id0::VARCHAR
                  ELSE id0::VARCHAR || ',' || id1::VARCHAR END AS doc_ids,
             CASE WHEN id1 IS NULL THEN 1 ELSE 2 END AS n_docs,
             n0 + coalesce(n1, 0) AS total_tokens
           FROM g WHERE id1 IS NULL OR n0 + n1 <= 128
           UNION ALL
           SELECT pair * 2, id0::VARCHAR, 1, n0 FROM g
           WHERE id1 IS NOT NULL AND n0 + n1 > 128
           UNION ALL
           SELECT pair * 2 + 1, id1::VARCHAR, 1, n1 FROM g
           WHERE id1 IS NOT NULL AND n0 + n1 > 128)
         SELECT seq_id::BIGINT AS seq_id, doc_ids, n_docs::INT AS n_docs,
           total_tokens::BIGINT AS total_tokens,
           greatest(0, 128 - total_tokens)::BIGINT AS padding
         FROM s""",
    "text_logprob" ->
      """WITH terms AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents WHERE trim(text) <> ''),
         freq AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
         tot AS (SELECT sum(cnt)::DOUBLE AS total FROM freq)
         SELECT doc_id, round(avg(ln(cnt::DOUBLE / total)), 6) AS avg_logprob,
           count(*)::BIGINT AS n_tokens_scored
         FROM terms JOIN freq USING (term) CROSS JOIN tot GROUP BY doc_id""",
    // interpolated bigram LM, λ=0.5: same arithmetic association as the
    // Spark side ((λ·c2)/c1 + (λ·cu)/n), unigram table over ALL docs
    "text_bigram_logprob" ->
      """WITH t AS (
           SELECT doc_id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                  ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
           FROM documents WHERE text IS NOT NULL),
         uni AS (SELECT w, count(*)::DOUBLE AS c
                 FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         tot AS (SELECT sum(c) AS n FROM uni),
         i AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS ix
               FROM t WHERE len(toks) >= 2),
         p AS (SELECT doc_id, toks[ix] AS w1, toks[ix + 1] AS w2 FROM i),
         big AS (SELECT w1, w2, count(*)::DOUBLE AS c2 FROM p GROUP BY w1, w2)
         SELECT doc_id,
           round(avg(ln(0.5 * c2 / u1.c + 0.5 * u2.c / n)), 6) AS avg_logprob2,
           count(*)::BIGINT AS n_bigrams_scored
         FROM p JOIN big USING (w1, w2)
           JOIN uni u1 ON p.w1 = u1.w JOIN uni u2 ON p.w2 = u2.w
           CROSS JOIN tot
         GROUP BY doc_id""",
    // NB replay: identical add-one-smoothed math, same arithmetic
    // association (ln(pos-frac) − ln(neg-frac) per token, prior + Σ llr
    // per doc); weak labels are the text_gopher expression inlined
    "text_nb_classifier" -> nbOracle(""),
    // persisted-model scoring == the full corpus-wide run restricted to
    // the scored batch (model trained on the whole snapshot either way)
    "text_nb_incremental" -> nbOracle("WHERE doc_id >= 250"),
    // exact unlearning: the count-form store after two takedown batches
    // == retraining on the surviving corpus (the whole point of keeping
    // integer sufficient statistics instead of derived llr)
    "text_nb_unlearned" ->
      nbOracle("", " AND doc_id % 5 <> 2 AND doc_id % 7 <> 3"),
    // compaction is physical removal, not a semantic change: same oracle
    "text_nb_compacted" ->
      nbOracle("", " AND doc_id % 5 <> 2 AND doc_id % 7 <> 3"),
    "text_gopher" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
         FROM documents)
         SELECT doc_id, len(toks)::BIGINT AS n_words,
           round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) END, 6)
             AS mean_word_len,
           round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             len(list_distinct(toks))::DOUBLE / len(toks) END, 6) AS ttr,
           (len(toks) BETWEEN 50 AND 100000) AND
             (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
              list_sum(list_transform(toks, t -> length(t)))::DOUBLE / len(toks) END
              BETWEEN 3.0 AND 10.0) AS gopher_pass
         FROM t""",
    "pipeline_shards" ->
      """WITH t AS (SELECT doc_id,
           (CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens
         FROM documents)
         SELECT doc_id, n_tokens,
           floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)::BIGINT
             AS shard_id
         FROM t""",
    "pipeline_shuffle" ->
      """SELECT doc_id,
           row_number() OVER (
             ORDER BY md5(concat('r5', ' ', CAST(doc_id AS VARCHAR))), doc_id)
             - 1 AS shuffle_pos
         FROM documents""",
    // same running-sum cut, but per-doc counts come from the byte-level
    // BPE replay (nested CTE) — null-text docs keep NULL counts and add 0
    "pipeline_bpe_shards" ->
      s"""WITH t AS (SELECT doc_id, n_bpe_bytes AS n_tokens
           FROM ($bpeBytesOracle))
         SELECT doc_id, n_tokens,
           floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)::BIGINT
             AS shard_id
         FROM t""",
    "pipeline_shard_stats" ->
      """WITH t AS (SELECT doc_id,
           (CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens
         FROM documents),
         s AS (SELECT doc_id, n_tokens,
           floor(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000)::BIGINT
             AS shard_id
         FROM t)
         SELECT shard_id, count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS shard_tokens
         FROM s GROUP BY shard_id""",
    "text_repetition" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
         FROM documents),
         g AS (SELECT doc_id, toks,
           list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
             i -> array_to_string(toks[i:i+1], ' ')) AS g2,
           list_transform(generate_series(1, greatest(len(toks) - 2, 0)),
             i -> array_to_string(toks[i:i+2], ' ')) AS g3
         FROM t)
         SELECT doc_id,
           round(CASE WHEN len(g2) = 0 THEN 0.0 ELSE
             (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2) END, 6) AS dup2_frac,
           round(CASE WHEN len(g3) = 0 THEN 0.0 ELSE
             (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) END, 6) AS dup3_frac,
           round(CASE WHEN len(toks) = 0 THEN 0.0 ELSE
             list_max(list_transform(list_distinct(toks),
               u -> len(list_filter(toks, x -> x = u))))::DOUBLE / len(toks) END, 6)
             AS top_token_frac
         FROM g""",
    "q_profile" ->
      """SELECT 'l_quantity' AS col_name, count(*)::BIGINT AS n_rows,
           (count(*) - count(l_quantity))::BIGINT AS n_nulls,
           count(DISTINCT l_quantity)::BIGINT AS n_distinct,
           min(l_quantity)::DOUBLE AS min_num, max(l_quantity)::DOUBLE AS max_num
         FROM lineitem
         UNION ALL SELECT 'l_extendedprice', count(*), count(*) - count(l_extendedprice),
           count(DISTINCT l_extendedprice), min(l_extendedprice)::DOUBLE,
           max(l_extendedprice)::DOUBLE FROM lineitem
         UNION ALL SELECT 'l_discount', count(*), count(*) - count(l_discount),
           count(DISTINCT l_discount), min(l_discount)::DOUBLE,
           max(l_discount)::DOUBLE FROM lineitem
         UNION ALL SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
           count(DISTINCT l_returnflag), NULL::DOUBLE, NULL::DOUBLE FROM lineitem""",
    // same bin arithmetic ((v - lo) / w, floor, last-bin clamp) on
    // identical IEEE doubles; empty bins via the generated axis
    "q_histogram" ->
      """WITH axis AS (SELECT unnest(generate_series(0, 15)) AS bin),
         c AS (SELECT least(floor((l_extendedprice - 0.0) / 5000.0), 15)::BIGINT
                 AS bin, count(*) AS cnt
               FROM lineitem
               WHERE l_extendedprice IS NOT NULL
                 AND l_extendedprice >= 0.0 AND l_extendedprice <= 80000.0
               GROUP BY 1)
         SELECT axis.bin::BIGINT AS bin,
           round(0.0 + axis.bin * 5000.0, 6)::DOUBLE AS bin_lo,
           round(0.0 + (axis.bin + 1) * 5000.0, 6)::DOUBLE AS bin_hi,
           coalesce(cnt, 0)::BIGINT AS cnt
         FROM axis LEFT JOIN c USING (bin)""",
    "text_chunks" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
         FROM documents),
         c AS (SELECT doc_id, toks,
           unnest(generate_series(0,
             greatest(greatest(len(toks) - 8 + 23, 0) // 24, 1) - 1)) AS chunk_idx
           FROM t WHERE len(toks) > 0)
         SELECT doc_id, chunk_idx::BIGINT AS chunk_idx,
           array_to_string(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ') AS chunk_text,
           len(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32])::BIGINT AS n_tokens
         FROM c""",
    // thresholds replicate Sampling's (fraction * 65536).toLong exactly:
    // 0.1 * 65536 truncates to 6553
    "pipeline_ccnet" ->
      """WITH terms AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents WHERE trim(text) <> ''),
         freq AS (SELECT term, count(*) AS cnt FROM terms GROUP BY term),
         tot AS (SELECT sum(cnt)::DOUBLE AS total FROM freq),
         scored AS (SELECT doc_id, avg(ln(cnt::DOUBLE / total)) AS lp
           FROM terms JOIN freq USING (term) CROSS JOIN tot GROUP BY doc_id),
         q AS (SELECT quantile_cont(lp, 0.25) AS q1, quantile_cont(lp, 0.75) AS q3
           FROM scored),
         b AS (SELECT doc_id, lp,
           CASE WHEN lp >= q3 THEN 'head' WHEN lp >= q1 THEN 'middle'
                ELSE 'tail' END AS bucket
           FROM scored, q)
         SELECT doc_id, bucket, round(lp, 6) AS avg_logprob FROM b
         WHERE list_sum(list_transform(generate_series(1, 4),
             k -> (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), k, 1)) - 1)::BIGINT
                  << (4 * (4 - k))))
           < CASE bucket WHEN 'head' THEN 65536 WHEN 'middle' THEN 32768
             ELSE 6553 END""",
    "text_heavy_hitters" ->
      """WITH terms AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents WHERE trim(text) <> ''),
         tot AS (SELECT count(*)::DOUBLE AS total FROM terms)
         SELECT term, count(*)::BIGINT AS cnt
         FROM terms, tot GROUP BY term, tot.total
         HAVING count(*) >= 0.02 * tot.total""",
    "text_boilerplate" ->
      """WITH t AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
         FROM documents),
         g AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(toks) - 2, 0)),
             i -> substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 15))) AS grams
           FROM t),
         gg AS (SELECT doc_id, grams FROM g WHERE len(grams) > 0),
         e AS (SELECT doc_id, unnest(grams) AS gr FROM gg),
         c AS (SELECT gr FROM e GROUP BY gr HAVING count(*) >= 5),
         cnt AS (SELECT doc_id, count(*) AS n_common
                 FROM e JOIN c USING (gr) GROUP BY doc_id)
         SELECT gg.doc_id, len(gg.grams)::BIGINT AS n_grams,
           coalesce(cnt.n_common, 0)::BIGINT AS n_common,
           round(coalesce(cnt.n_common, 0)::DOUBLE / len(gg.grams), 6)
             AS boilerplate_frac
         FROM gg LEFT JOIN cnt USING (doc_id)""",
    // same injected wrapper, same RE2-subset extraction chain (DuckDB
    // needs the explicit 'g' flag; Spark replaces globally by default)
    "text_html_extract" ->
      s"""WITH h AS (SELECT doc_id, $htmlInjectSql AS html FROM documents),
         x AS (SELECT doc_id, ${htmlExtractSql("html")} AS t FROM h)
         SELECT doc_id, len(t)::BIGINT AS n_chars, md5(t) AS text_fp FROM x""",
    // html extraction feeding the SAME quality/lang/dedup replay as
    // pipeline_training_data, via the parameterized source relation
    "pipeline_crawl_prep" -> trainingDataOracleFrom("raw",
      s"""raw AS (SELECT doc_id,
            ${htmlExtractSql(s"($htmlInjectSql)")} AS text
          FROM documents), """),
    // same synthetic URLs, same normalize/host/domain regex chain
    "text_url_normalize" ->
      """WITH u AS (SELECT doc_id,
           'HTTPS://User@WWW.Example' || (doc_id % 20) || '.COM/Path/' || doc_id
           || '?id=' || doc_id
           || '&utm_source=news&Keep=Case&href=Keep.Me&gclid=abc123'
           || '&ref=sr_1&utm_campaign=x#Frag'
           AS url FROM documents),
         t AS (SELECT doc_id, url,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(url,
             '#.*$', '', 'g'),
             '([?&])(?:utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&#]*', '\1', 'g'),
             '&&+', '&', 'g'),
             '\?&', '?', 'g'),
             '[?&]+$', '', 'g') AS tu FROM u),
         hh AS (SELECT doc_id, tu,
           lower(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1)) AS host
           FROM t)
         SELECT doc_id,
           lower(regexp_extract(tu, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
             || regexp_replace(tu, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '', 'g')
             AS url_norm,
           host,
           regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
         FROM hh""",
    "text_pii" ->
      """WITH t0 AS (SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com at 10.' ||
           (doc_id % 256) || '.0.' || (doc_id % 254 + 1) ||
           ' or (415) 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
           ' ssn ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' ||
           lpad((doc_id % 100)::VARCHAR, 2, '0') || '-' ||
           lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t
         FROM documents),
         s1 AS (SELECT doc_id,
           len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
           regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>', 'g') AS t
         FROM t0),
         s2 AS (SELECT doc_id, n_email,
           len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b')) AS n_ssn,
           regexp_replace(t, '\b\d{3}-\d{2}-\d{4}\b', '<ssn>', 'g') AS t
         FROM s1),
         s3 AS (SELECT doc_id, n_email, n_ssn,
           len(regexp_extract_all(t, '\(\d{3}\)[ .-]?\d{3}[ .-]\d{4}\b|\b\d{3}[ .-]\d{3}[ .-]\d{4}\b')) AS n_phone,
           regexp_replace(t, '\(\d{3}\)[ .-]?\d{3}[ .-]\d{4}\b|\b\d{3}[ .-]\d{3}[ .-]\d{4}\b', '<phone>', 'g') AS t
         FROM s2),
         s4 AS (SELECT doc_id, n_email, n_ssn, n_phone,
           len(regexp_extract_all(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4,
           regexp_replace(t, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<ipv4>', 'g') AS t
         FROM s3)
         SELECT doc_id, n_email::INT AS n_email, n_ssn::INT AS n_ssn,
           n_phone::INT AS n_phone, n_ipv4::INT AS n_ipv4,
           md5(t) AS redacted_fp
         FROM s4""",
    "sample_mixture" ->
      """SELECT doc_id, lang FROM documents
         WHERE list_sum(list_transform(generate_series(1, 4),
           k -> (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), k, 1)) - 1)::BIGINT
                << (4 * (4 - k))))
           < CASE WHEN lang = 'en' THEN 65536 ELSE 16384 END""",
    // full farthest-point-traversal replay (see kCenterReplaySql)
    "sample_kcenter" -> kCenterReplaySql(t = 8),
    // the k-means‖ face is a pure function of the corpus (md5 sampling,
    // integer mass, deterministic reduction): full round-for-round replay
    "sample_kcenter_par" ->
      kCenterParReplaySql(t = 8, rounds = 3, oversample = 2.0),
    // frozen-coreset replay: traversal over the even half, assignment
    // over the full corpus
    "sample_kcenter_incremental" -> kCenterReplaySql(t = 8, trainFrom = "eb"),
    // coreset-growth replay: frozen even-half rounds, batch-side
    // extension rounds seeded by the min distance to the frozen
    // centers, assignment over the union (see kCenterExtendReplaySql)
    "sample_kcenter_extend" -> kCenterExtendReplaySql(tFrozen = 8,
      tExtra = 4),
    // kth-NN outlier: the sim_knn_exact replay with rank = k kept
    "embed_outliers" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS c
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT id_a, c, row_number() OVER (
             PARTITION BY id_a ORDER BY c DESC, id_b) AS rank FROM p)
         SELECT id_a AS vec_id, round(c, 6) AS knn_cos
         FROM r WHERE rank = 3""",
    "sample_hash" ->
      """SELECT doc_id, source, n_chars FROM documents
         WHERE list_sum(list_transform(generate_series(1, 4),
           k -> (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), k, 1)) - 1)::BIGINT
                << (4 * (4 - k)))) < 16384""",
    // pipeline_mixture_plan's rate chain replayed, then materialized:
    // floor(rate) full epochs per doc + one fractional copy when the
    // doc's md5 bucket clears floor(frac * 65536)
    "sample_mixture_epochs" ->
      """WITH tok AS (SELECT source, sum(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT
               AS n_tokens
           FROM documents GROUP BY source),
         w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3),
           ('src2', 0.15), ('src3', 0.05), ('src99', 1.0)),
         norm AS (SELECT sum(wt) AS nw FROM w
                  WHERE source IN (SELECT source FROM tok)),
         rates AS (SELECT t.source,
             round(least(2.0,
               floor(round(coalesce(w.wt, 0) / nw, 6) * 100000)::DOUBLE /
               greatest(n_tokens::DOUBLE, 1.0)), 6) AS rate
           FROM tok t LEFT JOIN w USING (source) CROSS JOIN norm),
         j AS (SELECT d.doc_id, d.source,
             floor(r.rate)::BIGINT AS nfull,
             floor((r.rate - floor(r.rate)) * 65536)::BIGINT AS thr,
             list_sum(list_transform(generate_series(1, 4),
               k -> (strpos('0123456789abcdef',
                      substr(md5(d.doc_id::VARCHAR), k, 1)) - 1)::BIGINT
                    << (4 * (4 - k)))) AS b
           FROM documents d JOIN rates r USING (source))
         SELECT doc_id, source, unnest(list_concat(
             CASE WHEN nfull >= 1 THEN range(0, nfull) ELSE [] END,
             CASE WHEN b < thr THEN [nfull] ELSE [] END)) AS epoch_idx
         FROM j""",
    // exact replay of temperatureMixture(alpha=0.5, target=0.5): sqrt is
    // IEEE-correctly-rounded (unlike pow), the weight sum runs in key
    // order like the Scala fold, and the same expression order keeps the
    // doubles bit-identical
    "sample_temperature" ->
      """WITH c AS (SELECT lang AS k, count(*)::DOUBLE AS c
           FROM documents WHERE lang IS NOT NULL GROUP BY lang),
         w AS (SELECT list_sum(list(sqrt(c) ORDER BY k)) AS wsum,
                 sum(c) AS total FROM c),
         th AS (SELECT k,
             floor(least(1.0, 0.5 * w.total * sqrt(c.c) / w.wsum / c.c)
               * 65536)::BIGINT AS t
           FROM c, w)
         SELECT d.doc_id, d.lang FROM documents d JOIN th ON th.k = d.lang
         WHERE list_sum(list_transform(generate_series(1, 4),
           k -> (strpos('0123456789abcdef', substr(md5(d.doc_id::VARCHAR), k, 1)) - 1)::BIGINT
                << (4 * (4 - k)))) < th.t""",
    "sample_stratified" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang, row_number() OVER (
             PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM documents) WHERE rn <= 20""",
    "sample_cap_per_source" ->
      """SELECT doc_id, source, n_chars FROM (
           SELECT doc_id, source, n_chars, row_number() OVER (
             PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
           FROM documents) WHERE rn <= 10""",
    // full DSIR replay: same whitespace bigrams, same md5-bucket kernel
    // (first 4 nibbles mod 256), same add-one smoothing arithmetic; the
    // left-join tail restores featureless docs at the empty-product
    // weight 0
    "sample_dsir" -> (dsirWeightsSql +
      """ SELECT d.doc_id, coalesce(s.n_feats, 0)::BIGINT AS n_feats,
            round(coalesce(s.logw, 0), 6) AS logw
          FROM documents d LEFT JOIN s USING (doc_id)"""),
    // persisted-model scoring ≡ the one-shot run restricted to the batch
    "sample_dsir_incremental" -> (dsirWeightsSql +
      """ SELECT d.doc_id, coalesce(s.n_feats, 0)::BIGINT AS n_feats,
            round(coalesce(s.logw, 0), 6) AS logw
          FROM documents d LEFT JOIN s USING (doc_id)
          WHERE d.doc_id >= 250"""),
    "sample_dsir_topk" -> (dsirWeightsSql +
      """ SELECT d.doc_id, round(coalesce(s.logw, 0), 6) AS logw
          FROM documents d LEFT JOIN s USING (doc_id)
          ORDER BY round(coalesce(s.logw, 0), 6) DESC, d.doc_id LIMIT 50"""),
    // exact unlearning: the count-form store after the takedown batch ==
    // retraining with the victims out of BOTH distributions
    "sample_dsir_unlearned" -> (dsirWeightsSqlWhere(" AND doc_id % 7 <> 3") +
      """ SELECT d.doc_id, coalesce(s.n_feats, 0)::BIGINT AS n_feats,
            round(coalesce(s.logw, 0), 6) AS logw
          FROM documents d LEFT JOIN s USING (doc_id)
          WHERE d.doc_id % 7 <> 3"""),
    // compaction is physical removal, not a semantic change: same oracle
    "sample_dsir_compacted" -> (dsirWeightsSqlWhere(" AND doc_id % 7 <> 3") +
      """ SELECT d.doc_id, coalesce(s.n_feats, 0)::BIGINT AS n_feats,
            round(coalesce(s.logw, 0), 6) AS logw
          FROM documents d LEFT JOIN s USING (doc_id)
          WHERE d.doc_id % 7 <> 3"""),
    // 3 PageRank rounds unrolled; same unnormalized (1−d) + d·Σ r/deg
    // arithmetic as the operator, UNION dedups the node set
    // exact replay of the degree-ordered orientation: same canonical
    // edge set, same (deg, id) total order, one row per triangle
    "graph_triangles" ->
      """WITH e0 AS (SELECT DISTINCT
             least(a.l_partkey, b.l_partkey)::BIGINT AS a,
             greatest(a.l_partkey, b.l_partkey)::BIGINT AS b
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
           WHERE a.l_orderkey % 2 = 0),
         deg AS (SELECT id, count(*)::BIGINT AS deg FROM (
               SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0)
             GROUP BY id),
         o AS (SELECT
             CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                  THEN e0.a ELSE e0.b END AS s,
             CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                  THEN e0.b ELSE e0.a END AS t,
             CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                  THEN db.deg ELSE da.deg END AS dt
           FROM e0 JOIN deg da ON e0.a = da.id JOIN deg db ON e0.b = db.id),
         tr AS (SELECT x.s AS u, x.t AS v, y.t AS w
                FROM o x JOIN o y ON x.s = y.s
                  AND (x.dt, x.t) < (y.dt, y.t)
                  JOIN o z ON z.s = x.t AND z.t = y.t),
         cnt AS (SELECT id, count(*)::BIGINT AS triangles FROM (
               SELECT u AS id FROM tr UNION ALL SELECT v FROM tr
               UNION ALL SELECT w FROM tr)
             GROUP BY id)
         SELECT deg.id, coalesce(cnt.triangles, 0)::BIGINT AS triangles
         FROM deg LEFT JOIN cnt USING (id)""",
    // takedown-face contract: build + append + DELETE of the
    // (a+b) % 5 = 1 edges must equal the rebuild over the SURVIVORS —
    // vertex set included (isolated vertices leave with their edges)
    "graph_triangles_deleted" ->
      """WITH e0 AS (SELECT DISTINCT
             least(a.l_partkey, b.l_partkey)::BIGINT AS a,
             greatest(a.l_partkey, b.l_partkey)::BIGINT AS b
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
           WHERE a.l_orderkey % 2 = 0),
         es AS (SELECT a, b FROM e0 WHERE (a + b) % 5 <> 1),
         deg AS (SELECT id, count(*)::BIGINT AS deg FROM (
               SELECT a AS id FROM es UNION ALL SELECT b FROM es)
             GROUP BY id),
         o AS (SELECT
             CASE WHEN (da.deg, es.a) < (db.deg, es.b)
                  THEN es.a ELSE es.b END AS s,
             CASE WHEN (da.deg, es.a) < (db.deg, es.b)
                  THEN es.b ELSE es.a END AS t,
             CASE WHEN (da.deg, es.a) < (db.deg, es.b)
                  THEN db.deg ELSE da.deg END AS dt
           FROM es JOIN deg da ON es.a = da.id JOIN deg db ON es.b = db.id),
         tr AS (SELECT x.s AS u, x.t AS v, y.t AS w
                FROM o x JOIN o y ON x.s = y.s
                  AND (x.dt, x.t) < (y.dt, y.t)
                  JOIN o z ON z.s = x.t AND z.t = y.t),
         cnt AS (SELECT id, count(*)::BIGINT AS triangles FROM (
               SELECT u AS id FROM tr UNION ALL SELECT v FROM tr
               UNION ALL SELECT w FROM tr)
             GROUP BY id)
         SELECT deg.id, coalesce(cnt.triangles, 0)::BIGINT AS triangles
         FROM deg LEFT JOIN cnt USING (id)""",
    // incremental-face contract: index build on %4==0 + append of
    // %4==2 must EQUAL the full rebuild over the union — which is
    // graph_triangles' own replay (%4∈{0,2} ≡ %2=0), verbatim
    "graph_triangles_incremental" ->
      """WITH e0 AS (SELECT DISTINCT
             least(a.l_partkey, b.l_partkey)::BIGINT AS a,
             greatest(a.l_partkey, b.l_partkey)::BIGINT AS b
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey <> b.l_partkey
           WHERE a.l_orderkey % 2 = 0),
         deg AS (SELECT id, count(*)::BIGINT AS deg FROM (
               SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0)
             GROUP BY id),
         o AS (SELECT
             CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                  THEN e0.a ELSE e0.b END AS s,
             CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                  THEN e0.b ELSE e0.a END AS t,
             CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                  THEN db.deg ELSE da.deg END AS dt
           FROM e0 JOIN deg da ON e0.a = da.id JOIN deg db ON e0.b = db.id),
         tr AS (SELECT x.s AS u, x.t AS v, y.t AS w
                FROM o x JOIN o y ON x.s = y.s
                  AND (x.dt, x.t) < (y.dt, y.t)
                  JOIN o z ON z.s = x.t AND z.t = y.t),
         cnt AS (SELECT id, count(*)::BIGINT AS triangles FROM (
               SELECT u AS id FROM tr UNION ALL SELECT v FROM tr
               UNION ALL SELECT w FROM tr)
             GROUP BY id)
         SELECT deg.id, coalesce(cnt.triangles, 0)::BIGINT AS triangles
         FROM deg LEFT JOIN cnt USING (id)""",
    // the triangle replay + the Watts-Strogatz normalization (integer
    // neighbor-pair count, double division, round-6 — same arithmetic
    // order as the operator)
    "graph_clustering_coef" -> clusteringCoefReplaySql,
    // the maintained-index coefficient face must EQUAL the direct batch
    // operator over the union (%4∈{0,2} ≡ %2=0) — the same replay
    "graph_clustering_coef_incremental" -> clusteringCoefReplaySql,
    // synchronous peel unrolled to 12 rounds (the Spark side's LOUD
    // maxRounds bound): extra rounds past the fixpoint are no-ops, so
    // the unroll replays the converged core exactly
    "graph_kcore" -> kCoreReplaySql(k = 35, rounds = 12),
    "graph_pagerank" ->
      """WITH pe AS (SELECT DISTINCT l_partkey::BIGINT AS src,
             (l_suppkey + 1000000)::BIGINT AS dst FROM lineitem),
         e AS (SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe),
         n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         d AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY 1),
         r0 AS (SELECT id, 1.0::DOUBLE AS r FROM n),
         c1 AS (SELECT e.dst AS id, sum(r0.r / d.deg) AS c FROM e
                JOIN r0 ON r0.id = e.src JOIN d ON d.src = e.src GROUP BY 1),
         r1 AS (SELECT n.id, 0.15 + 0.85 * coalesce(c1.c, 0) AS r
                FROM n LEFT JOIN c1 USING (id)),
         c2 AS (SELECT e.dst AS id, sum(r1.r / d.deg) AS c FROM e
                JOIN r1 ON r1.id = e.src JOIN d ON d.src = e.src GROUP BY 1),
         r2 AS (SELECT n.id, 0.15 + 0.85 * coalesce(c2.c, 0) AS r
                FROM n LEFT JOIN c2 USING (id)),
         c3 AS (SELECT e.dst AS id, sum(r2.r / d.deg) AS c FROM e
                JOIN r2 ON r2.id = e.src JOIN d ON d.src = e.src GROUP BY 1),
         r3 AS (SELECT n.id, 0.15 + 0.85 * coalesce(c3.c, 0) AS r
                FROM n LEFT JOIN c3 USING (id))
         SELECT id, round(r, 6) AS rank FROM r3""",
    // the pagerank replay with seeded init and restart: mass starts at
    // and teleports back to parts {1,2,3}
    "graph_ppr" ->
      """WITH pe AS (SELECT DISTINCT l_partkey::BIGINT AS src,
             (l_suppkey + 1000000)::BIGINT AS dst FROM lineitem),
         e AS (SELECT src, dst FROM pe UNION ALL SELECT dst, src FROM pe),
         n AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         d AS (SELECT src, count(*)::DOUBLE AS deg FROM e GROUP BY 1),
         r0 AS (SELECT id, (CASE WHEN id IN (1, 2, 3) THEN 1.0
             ELSE 0.0 END)::DOUBLE AS r FROM n),
         c1 AS (SELECT e.dst AS id, sum(r0.r / d.deg) AS c FROM e
                JOIN r0 ON r0.id = e.src JOIN d ON d.src = e.src GROUP BY 1),
         r1 AS (SELECT n.id, (CASE WHEN n.id IN (1, 2, 3) THEN 0.15
             ELSE 0.0 END)::DOUBLE + 0.85 * coalesce(c1.c, 0) AS r
                FROM n LEFT JOIN c1 USING (id)),
         c2 AS (SELECT e.dst AS id, sum(r1.r / d.deg) AS c FROM e
                JOIN r1 ON r1.id = e.src JOIN d ON d.src = e.src GROUP BY 1),
         r2 AS (SELECT n.id, (CASE WHEN n.id IN (1, 2, 3) THEN 0.15
             ELSE 0.0 END)::DOUBLE + 0.85 * coalesce(c2.c, 0) AS r
                FROM n LEFT JOIN c2 USING (id)),
         c3 AS (SELECT e.dst AS id, sum(r2.r / d.deg) AS c FROM e
                JOIN r2 ON r2.id = e.src JOIN d ON d.src = e.src GROUP BY 1),
         r3 AS (SELECT n.id, (CASE WHEN n.id IN (1, 2, 3) THEN 0.15
             ELSE 0.0 END)::DOUBLE + 0.85 * coalesce(c3.c, 0) AS r
                FROM n LEFT JOIN c3 USING (id))
         SELECT id, round(r, 6) AS rank FROM r3""",
    // same md5-Rademacher signs as lshBucketSql, values kept, /4 scaling
    "embed_random_projection" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE embedding IS NOT NULL),
         p AS (SELECT vec_id, i,
           round(list_dot_product(v, list_transform(generate_series(0, 63), j ->
             CASE WHEN strpos('01234567', substr(md5(i || ':' || j), 1, 1)) > 0
                  THEN 1.0 ELSE -1.0 END)) / 4.0, 6) + 0.0 AS comp
           FROM e CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i) ii)
         SELECT vec_id, i::BIGINT AS dim, comp FROM p""",
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e)
         SELECT vec_id, round(scale, 6) AS scale,
           array_to_string(list_transform(v, x -> CASE WHEN scale = 0 THEN 0
             ELSE floor(x / scale * 127 + 0.5)::INT END), ',') AS q_csv
         FROM s""",
    // full k-means replay: same seeds (4 lowest ids), same rounded-cosine
    // argmax (ties → lowest cluster), same round-9 centroid components,
    // empty clusters keep their previous centroid via the left-join
    // coalesce
    "embed_kmeans" -> (kmeansReplaySql +
      """ SELECT e.vec_id,
           (SELECT s.c FROM c2 s
            ORDER BY round(list_cosine_similarity(e.v, s.v), 6) DESC, s.c
            LIMIT 1)::INT AS cluster
         FROM e"""),
    // persisted-centroid assignment ≡ the one-shot run on the batch
    "embed_kmeans_incremental" -> (kmeansReplaySql +
      """ SELECT e.vec_id,
           (SELECT s.c FROM c2 s
            ORDER BY round(list_cosine_similarity(e.v, s.v), 6) DESC, s.c
            LIMIT 1)::INT AS cluster
         FROM e WHERE e.vec_id >= 250"""),
    "dedup_survivors" ->
      """SELECT doc_id, source FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)""",
    "dedup_exact" ->
      """SELECT md5(coalesce(text, chr(1))) AS content_hash, min(doc_id) AS keep_id,
         count(*) AS dup_count FROM documents GROUP BY 1""",
    "dedup_ngram" ->
      s"""WITH t AS (SELECT doc_id, source, $trigramsSql AS g
           FROM documents WHERE text IS NOT NULL),
         pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CASE WHEN len(list_distinct(list_concat(a.g, b.g))) = 0 THEN 0.0
             ELSE len(list_intersect(a.g, b.g))::DOUBLE
               / len(list_distinct(list_concat(a.g, b.g)))::DOUBLE END AS j
           FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM pairs WHERE j >= 0.4""",
    "dedup_embedding" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
         FROM embeddings a JOIN embeddings b
           ON a.label = b.label AND a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4""",

    "sim_topk" ->
      """SELECT b.vec_id,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
         FROM embeddings a CROSS JOIN embeddings b WHERE a.vec_id = 0
         ORDER BY cosine DESC, b.vec_id LIMIT 10""",
    // the recall contracts: all k approximate results are inside the exact
    // top-50 (verified empirically at sf0.001/0.01/0.1; a recall
    // regression breaks the hash)
    "sim_ann_lsh" ->
      "SELECT 10::BIGINT AS n_ann, 10::BIGINT AS n_in_exact_top50",
    // FULL product-quantization replay: every subspace codebook's Lloyd
    // chain, the encode argmax, the centroid-concat reconstruction, and
    // the final rank — generated per subspace by pqReplaySql
    "sim_pq" -> pqReplaySql(m = 8, k = 16, subDim = 8),
    // FULL IVF-PQ replay: md5 LSH cells, round-9 centroids, round-6
    // probe ranking, 32 L2 codebook chains, ADC re-rank of the probed
    // cells — the strongest possible check (see ivfPqReplaySql)
    "sim_ivfpq" -> ivfPqReplaySql(m = 16, k = 32, subDim = 4, nBits = 6,
      nProbe = 3, topK = 10),
    // append-history replay: frozen-index append of the odd half,
    // re-ranked over the union (see ivfPqAppendReplaySql)
    "sim_ivfpq_append" -> ivfPqAppendReplaySql(m = 16, k = 32, subDim = 4,
      nBits = 6, nProbe = 3, topK = 10),
    // FULL two-tier replay: the IVF-PQ chain (cells, centroids,
    // codebooks, codes), the (round-6 ADC DESC, id) shortlist cut at
    // refineFactor·k, the SQ8 quantization of the shortlist rows, and
    // the (round-6 SQ8 cosine DESC, id) re-rank — see ivfPqRefineReplaySql
    "sim_ivfpq_refine" -> ivfPqRefineReplaySql(m = 16, k = 32, subDim = 4,
      nBits = 6, nProbe = 3, topK = 10, refineFactor = 5),
    // the refine replay with the tombstoned ids excluded from the
    // CANDIDATE SET only — the index (cells, centroids, codebooks) is
    // rebuilt over the full corpus, deletion does not retrain
    "sim_ivf_deleted" -> ivfPqRefineReplaySql(m = 16, k = 32, subDim = 4,
      nBits = 6, nProbe = 3, topK = 10, refineFactor = 5,
      exclude = "d.vec_id % 7 = 3"),
    // the refine-tier replay PER QUERY of the batched join face — see
    // ivfPqJoinRefineReplaySql
    "sim_ivfpq_join_refine" -> ivfPqJoinRefineReplaySql(m = 16, k = 32,
      subDim = 4, nBits = 6, nProbe = 3, topK = 5, refineFactor = 4,
      nQueries = 3),
    // the indexed margin-mining replay: both SQ8 indexes (md5 cells,
    // round-9 centroids), per-query round-6 probe ranking, quantized
    // directional top-4 lists, max-canonicalized union, micro-unit
    // denominators, mutual argmax — see bitextMarginIndexedSql
    "sim_bitext_margin_indexed" -> bitextMarginIndexedSql(nBits = 6,
      nProbe = 6, topK = 4),
    "sim_ivf" ->
      "SELECT 10::BIGINT AS n_ivf, 10::BIGINT AS n_in_exact_top50",
    "sim_ivf_sq8" ->
      "SELECT 10::BIGINT AS n_ivf_sq8, 10::BIGINT AS n_in_exact_top50",
    // filtered-probe contract: k rows returned PER FILTERED SUBSET, all
    // inside the subset's exact top-50, at ~50% and ~5% selectivity
    // (verified empirically at sf0.001/0.01/0.1)
    "sim_ivf_filtered" ->
      """SELECT 50::BIGINT AS sel_pct, 10::BIGINT AS n_res,
         10::BIGINT AS n_in_exact_top50
         UNION ALL
         SELECT 5::BIGINT, 5::BIGINT, 5::BIGINT""",
    // batched-join recall contract: all N queries answer, each with
    // exactly 5 neighbors, all inside that query's exact top-50
    // (verified empirically at sf0.001/0.01/0.1; a recall or coverage
    // regression breaks the hash)
    "sim_ivf_join" ->
      """SELECT count(*)::BIGINT AS n_queries,
         (count(*) * 5)::BIGINT AS n_results,
         (count(*) * 5)::BIGINT AS n_in_exact_top50
         FROM embeddings""",
    // filter on RAW jaccard then round for output — the operator's order
    "dedup_minhash" ->
      s"""WITH $minhashPairsSql
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM p WHERE j >= 0.4""",
    // the prefix-filter join is EXACT, so its oracle is the minhash pair
    // CTE at its own 0.7 threshold — equality IS the recall-1.0 claim,
    // hash-checked (the CTE's 0.4 length filter is a candidate superset
    // of 0.7's, so reusing it stays correct)
    "dedup_jaccard_prefix" ->
      s"""WITH $minhashPairsSql
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM p WHERE j >= 0.7""",
    // exact cross-frame pairs only: corpus side id < 250, batch side
    // id >= 250 (id_a < id_b in the CTE, so the split is the filter)
    "dedup_jaccard_prefix_bipartite" ->
      s"""WITH $minhashPairsSql
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         WHERE j >= 0.7 AND id_a < 250 AND id_b >= 250""",
    // every new-involving exact pair — the frozen-order incremental probe
    // must equal the full self-join's new-involving subset (id_a < id_b,
    // so any pair touching ids >= 250 has id_b >= 250)
    "dedup_jaccard_prefix_incremental" ->
      s"""WITH $minhashPairsSql
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         WHERE j >= 0.7 AND id_b >= 250""",
    // takedown replay: new-involving exact pairs minus any pair touching
    // a victim (victims are corpus ids < 250, and id_a < id_b with
    // id_b >= 250, so only the id_a side can be one)
    "dedup_jaccard_prefix_deleted" ->
      s"""WITH $minhashPairsSql
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         WHERE j >= 0.7 AND id_b >= 250
           AND NOT (id_a < 250 AND id_a % 9 = 2)""",
    // every new-involving exact pair: id_a < id_b, so any pair touching
    // the new batch (ids >= 250) has id_b >= 250
    "dedup_incremental_lsh" ->
      s"""WITH $minhashPairsSql
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         WHERE j >= 0.4 AND id_b >= 250""",
    // exact takedown replay: the per-id index rows ARE the rebuild over
    // survivors, so the probe emits the full pair set minus any pair
    // touching a victim (old ids % 9 = 2; id_a < id_b so only the old
    // side can be one — pairwise jaccard is independent of other docs,
    // and this oracle models no bucket caps, so the post-filter is exact)
    "dedup_lsh_deleted" ->
      s"""WITH $minhashPairsSql
         SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
         WHERE j >= 0.4 AND id_b >= 250
           AND NOT (id_a < 250 AND id_a % 9 = 2)""",
    "dedup_incremental" ->
      """WITH existing AS (
           SELECT DISTINCT md5(coalesce(text, chr(1))) AS d
           FROM documents WHERE doc_id < 250),
         keep AS (
           SELECT min(doc_id) AS doc_id
           FROM documents WHERE doc_id >= 250
           GROUP BY md5(coalesce(text, chr(1)))
           HAVING md5(coalesce(text, chr(1))) NOT IN (SELECT d FROM existing))
         SELECT doc_id, source FROM documents
         WHERE doc_id IN (SELECT doc_id FROM keep)""",
    "dedup_near_survivors" -> survivorsClosureOracle,
    // survivors from incrementally-maintained labels must equal the
    // batch rebuild (old-corpus pairs ∪ new-involving pairs = all pairs)
    "dedup_incremental_survivors" -> survivorsClosureOracle,
    "dedup_clusters" -> clustersClosureOracle,
    // same closure, both end products projected from it: label = min id
    // of the component (own id when unpaired), survivor ⟺ id == label
    "dedup_products_shared" ->
      s"""WITH RECURSIVE $minhashPairsSql,
         pr AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE j >= 0.4),
         edges AS (SELECT id_a AS a, id_b AS b FROM pr
                   UNION SELECT id_b, id_a FROM pr),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         lab AS (SELECT a AS doc_id, least(a, min(b))::BIGINT AS cluster_id
                 FROM reach GROUP BY a)
         SELECT d.doc_id,
           coalesce(l.cluster_id, d.doc_id)::BIGINT AS cluster_id,
           (coalesce(l.cluster_id, d.doc_id) = d.doc_id) AS is_survivor
         FROM documents d LEFT JOIN lab l USING (doc_id)""",
    // incremental label maintenance must land on the same closure as a
    // full rebuild: old-corpus pairs ∪ new-involving pairs = all pairs
    "dedup_incremental_clusters" -> clustersClosureOracle,
    // takedown replay: the closure REBUILT over the pair set minus any
    // pair touching a victim (doc_id % 11 = 4) — re-elected
    // representatives, bridge-removal splits, and orphan drops all fall
    // out of the rebuild, which is exactly deleteFromLabels's contract
    "dedup_incremental_deleted" ->
      s"""WITH RECURSIVE $minhashPairsSql,
         pr AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE j >= 0.4
           AND id_a % 11 <> 4 AND id_b % 11 <> 4),
         edges AS (SELECT id_a AS a, id_b AS b FROM pr
                   UNION SELECT id_b, id_a FROM pr),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         SELECT a AS doc_id, least(a, min(b))::BIGINT AS cluster_id
         FROM reach GROUP BY a""",
    // the takedown end product: survivors over corpus-minus-victims
    // with clusters re-closured over the surviving pairs
    "dedup_incremental_deleted_survivors" ->
      s"""WITH RECURSIVE $minhashPairsSql,
         pr AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE j >= 0.4
           AND id_a % 11 <> 4 AND id_b % 11 <> 4),
         edges AS (SELECT id_a AS a, id_b AS b FROM pr
                   UNION SELECT id_b, id_a FROM pr),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         losers AS (SELECT a FROM reach GROUP BY a
                    HAVING least(a, min(b)) <> a)
         SELECT doc_id, source FROM documents
         WHERE doc_id % 11 <> 4
           AND doc_id NOT IN (SELECT a FROM losers)""",
    // exact simhash replication: 60-bit md5 token hashes -> per-bit
    // majority vote -> all-pairs hamming. The Spark side's chunk blocking
    // is pigeonhole-complete at maxHamming=8 (9 chunks), so blocked
    // output == this all-pairs set.
    "dedup_simhash" ->
      s"""WITH toks AS (
           SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END) AS tok
           FROM documents),
         h AS (SELECT doc_id, $md5Hash60Sql AS hv
           FROM (SELECT doc_id, md5(tok) AS m FROM toks)),
         bits AS (
           SELECT doc_id, b AS bit,
             count(*) FILTER (WHERE ((hv >> b) & 1) = 1) AS ones,
             count(*) AS n
           FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
           GROUP BY doc_id, b),
         sig0 AS (SELECT doc_id,
             sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sig
           FROM bits GROUP BY doc_id),
         sigs AS (SELECT d.doc_id, coalesce(s.sig, 0) AS sig
           FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
           LEFT JOIN sig0 s USING (doc_id))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
         FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 8""",
    // same exact signature rebuild; any pair involving the new batch
    // (ids >= 250) has id_b >= 250 because id_a < id_b
    "dedup_incremental_simhash" ->
      s"""WITH toks AS (
           SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END) AS tok
           FROM documents),
         h AS (SELECT doc_id, $md5Hash60Sql AS hv
           FROM (SELECT doc_id, md5(tok) AS m FROM toks)),
         bits AS (
           SELECT doc_id, b AS bit,
             count(*) FILTER (WHERE ((hv >> b) & 1) = 1) AS ones,
             count(*) AS n
           FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
           GROUP BY doc_id, b),
         sig0 AS (SELECT doc_id,
             sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sig
           FROM bits GROUP BY doc_id),
         sigs AS (SELECT d.doc_id, coalesce(s.sig, 0) AS sig
           FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
           LEFT JOIN sig0 s USING (doc_id))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
         FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 8 AND b.doc_id >= 250""",
    // exact takedown replay (the dedup_lsh_deleted reasoning): pairwise
    // hamming is independent of other docs and this oracle models no
    // bucket caps, so excluding victim-involving pairs post-hoc equals
    // the rebuild over survivors
    "dedup_simhash_deleted" ->
      s"""WITH toks AS (
           SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
             ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END) AS tok
           FROM documents),
         h AS (SELECT doc_id, $md5Hash60Sql AS hv
           FROM (SELECT doc_id, md5(tok) AS m FROM toks)),
         bits AS (
           SELECT doc_id, b AS bit,
             count(*) FILTER (WHERE ((hv >> b) & 1) = 1) AS ones,
             count(*) AS n
           FROM h CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) bs
           GROUP BY doc_id, b),
         sig0 AS (SELECT doc_id,
             sum(CASE WHEN 2 * ones > n THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS sig
           FROM bits GROUP BY doc_id),
         sigs AS (SELECT d.doc_id, coalesce(s.sig, 0) AS sig
           FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
           LEFT JOIN sig0 s USING (doc_id))
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sig, b.sig))::BIGINT AS hamming
         FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.sig, b.sig)) <= 8 AND b.doc_id >= 250
           AND NOT (a.doc_id < 250 AND a.doc_id % 9 = 2)""",
    // exact hyperplane-LSH replication: md5-Rademacher planes rebuilt in
    // SQL, same bucket join + cap + cosine threshold as the operator
    "dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (SELECT vec_id, v, ${lshBucketSql("v", 6)} AS bucket FROM e),
         keep AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 1000),
         s AS (SELECT b.* FROM b JOIN keep USING (bucket))
         SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
           round(list_cosine_similarity(a.v, bb.v), 6) AS cosine
         FROM s a JOIN s bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         WHERE list_cosine_similarity(a.v, bb.v) >= 0.4""",
    // same bucket rebuild + recursive closure over the >=0.4 cosine
    // pairs; centroid = per-dimension bucket mean; survivor = lowest
    // (centroid_cos, id) per cluster — full-precision rank, like the
    // Spark-side struct-min
    "dedup_semantic" ->
      s"""WITH RECURSIVE e AS (
           SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS MATERIALIZED (
           SELECT vec_id, v, ${lshBucketSql("v", 6)} AS bucket FROM e),
         keepb AS (SELECT bucket FROM b GROUP BY bucket
                   HAVING count(*) <= 1000),
         s AS MATERIALIZED (SELECT b.* FROM b JOIN keepb USING (bucket)),
         pr AS MATERIALIZED (
           SELECT a.vec_id AS id_a, bb.vec_id AS id_b
           FROM s a JOIN s bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
           WHERE list_cosine_similarity(a.v, bb.v) >= 0.4),
         edges AS (SELECT id_a AS a, id_b AS b FROM pr
                   UNION SELECT id_b, id_a FROM pr),
         reach(a, b) AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
         lab AS (SELECT a AS vec_id, least(a, min(b)) AS cluster_id
                 FROM reach GROUP BY a),
         dims AS (SELECT bucket, j, avg(v[j]) AS cj
           FROM s CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
           GROUP BY bucket, j),
         cent AS (SELECT bucket, list(cj ORDER BY j) AS c
                  FROM dims GROUP BY bucket),
         m AS (SELECT lab.vec_id, lab.cluster_id,
             list_cosine_similarity(s.v, cent.c) AS cc
           FROM lab JOIN s USING (vec_id) JOIN cent USING (bucket)),
         r AS (SELECT vec_id, cluster_id, cc, row_number() OVER (
             PARTITION BY cluster_id ORDER BY cc, vec_id) AS rk FROM m)
         SELECT vec_id, cluster_id::BIGINT AS cluster_id,
           round(cc, 6) AS centroid_cos, (rk = 1) AS keep
         FROM r""",
    // the k-means replay (identical CTE chain to embed_kmeans) feeding
    // the dedup_semantic pair/closure/keep machinery: assignment by
    // round-6 argmax, capped within-cell pairs, recursive closure,
    // farthest-from-MODEL-centroid keep
    "dedup_semantic_kmeans" ->
      (kmeansReplaySql.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """, a3 AS MATERIALIZED (SELECT e.vec_id, e.v,
           (SELECT s.c FROM c2 s
            ORDER BY round(list_cosine_similarity(e.v, s.v), 6) DESC, s.c
            LIMIT 1) AS cluster FROM e),
         keepc AS (SELECT cluster FROM a3 GROUP BY cluster
                   HAVING count(*) <= 1000),
         sz AS MATERIALIZED (SELECT a3.* FROM a3 JOIN keepc USING (cluster)),
         pr AS MATERIALIZED (
           SELECT a.vec_id AS id_a, bb.vec_id AS id_b
           FROM sz a JOIN sz bb
             ON a.cluster = bb.cluster AND a.vec_id < bb.vec_id
           WHERE list_cosine_similarity(a.v, bb.v) >= 0.4),
         edges AS (SELECT id_a AS ea, id_b AS eb FROM pr
                   UNION SELECT id_b, id_a FROM pr),
         reach(ea, eb) AS (
           SELECT ea, eb FROM edges
           UNION
           SELECT r.ea, e2.eb FROM reach r JOIN edges e2 ON r.eb = e2.ea),
         lab AS (SELECT ea AS vec_id, least(ea, min(eb)) AS cluster_id
                 FROM reach GROUP BY ea),
         m AS (SELECT lab.vec_id, lab.cluster_id,
             list_cosine_similarity(sz.v, c2.v) AS cc
           FROM lab JOIN sz USING (vec_id) JOIN c2 ON sz.cluster = c2.c),
         r AS (SELECT vec_id, cluster_id, cc, row_number() OVER (
             PARTITION BY cluster_id ORDER BY cc, vec_id) AS rk FROM m)
         SELECT vec_id, cluster_id::BIGINT AS cluster_id,
           round(cc, 6) AS centroid_cos, (rk = 1) AS keep
         FROM r"""),
    // the frozen-model incremental SemDeDup: train the k-means chain on
    // ids < 250 ONLY, assign ALL vectors to those frozen cells, run the
    // full pair/closure/keep machinery over the union, and keep only
    // components containing a new id — the whole-component re-decision
    // the incremental operator must reproduce
    "dedup_incremental_semantic_kmeans" ->
      (kmeansReplaySql
        .replaceFirst("WITH ", "WITH RECURSIVE ")
        .replace("FROM embeddings WHERE embedding IS NOT NULL",
          "FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 250")
      + """, eall AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE embedding IS NOT NULL),
         a3 AS MATERIALIZED (SELECT eall.vec_id, eall.v,
           (SELECT s.c FROM c2 s
            ORDER BY round(list_cosine_similarity(eall.v, s.v), 6) DESC, s.c
            LIMIT 1) AS cluster FROM eall),
         keepc AS (SELECT cluster FROM a3 GROUP BY cluster
                   HAVING count(*) <= 1000),
         sz AS MATERIALIZED (SELECT a3.* FROM a3 JOIN keepc USING (cluster)),
         pr AS MATERIALIZED (
           SELECT a.vec_id AS id_a, bb.vec_id AS id_b
           FROM sz a JOIN sz bb
             ON a.cluster = bb.cluster AND a.vec_id < bb.vec_id
           WHERE list_cosine_similarity(a.v, bb.v) >= 0.4),
         edges AS (SELECT id_a AS ea, id_b AS eb FROM pr
                   UNION SELECT id_b, id_a FROM pr),
         reach(ea, eb) AS (
           SELECT ea, eb FROM edges
           UNION
           SELECT r.ea, e2.eb FROM reach r JOIN edges e2 ON r.eb = e2.ea),
         lab AS (SELECT ea AS vec_id, least(ea, min(eb)) AS cluster_id
                 FROM reach GROUP BY ea),
         newcomp AS (SELECT DISTINCT cluster_id FROM lab WHERE vec_id >= 250),
         m AS (SELECT lab.vec_id, lab.cluster_id,
             list_cosine_similarity(sz.v, c2.v) AS cc
           FROM lab JOIN sz USING (vec_id) JOIN c2 ON sz.cluster = c2.c
           WHERE lab.cluster_id IN (SELECT cluster_id FROM newcomp)),
         r AS (SELECT vec_id, cluster_id, cc, row_number() OVER (
             PARTITION BY cluster_id ORDER BY cc, vec_id) AS rk FROM m)
         SELECT vec_id, cluster_id::BIGINT AS cluster_id,
           round(cc, 6) AS centroid_cos, (rk = 1) AS keep
         FROM r"""),
    // same exact bucket rebuild; any pair involving the new batch
    // (ids >= 250) has id_b >= 250 because id_a < id_b
    "dedup_incremental_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (SELECT vec_id, v, ${lshBucketSql("v", 6)} AS bucket FROM e),
         keep AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 1000),
         s AS (SELECT b.* FROM b JOIN keep USING (bucket))
         SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
           round(list_cosine_similarity(a.v, bb.v), 6) AS cosine
         FROM s a JOIN s bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         WHERE list_cosine_similarity(a.v, bb.v) >= 0.4 AND bb.vec_id >= 250""",
    // exact takedown replay: this oracle DOES model the bucket cap, so
    // victims leave the population BEFORE the cap (the same population
    // the probe's reduced index presents), not as a pair post-filter
    "dedup_embedding_lsh_deleted" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE NOT (vec_id < 250 AND vec_id % 9 = 2)),
         b AS (SELECT vec_id, v, ${lshBucketSql("v", 6)} AS bucket FROM e),
         keep AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) <= 1000),
         s AS (SELECT b.* FROM b JOIN keep USING (bucket))
         SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
           round(list_cosine_similarity(a.v, bb.v), 6) AS cosine
         FROM s a JOIN s bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
         WHERE list_cosine_similarity(a.v, bb.v) >= 0.4 AND bb.vec_id >= 250""",
    "sim_neighbors" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         b AS (SELECT vec_id, v, ${lshBucketSql("v", 12)} AS bucket FROM e),
         keep AS (SELECT bucket FROM b GROUP BY bucket
                  HAVING count(*) BETWEEN 2 AND 1000),
         s AS (SELECT b.* FROM b JOIN keep USING (bucket)),
         p AS (SELECT a.bucket, a.vec_id AS id_a, bb.vec_id AS id_b,
             list_cosine_similarity(a.v, bb.v) AS c
           FROM s a JOIN s bb ON a.bucket = bb.bucket AND a.vec_id <> bb.vec_id),
         r AS (SELECT id_a, id_b, c, row_number() OVER (
             PARTITION BY bucket, id_a ORDER BY c DESC, id_b) AS rank FROM p)
         SELECT id_a, id_b, round(c, 6) AS cosine, rank::INT AS rank
         FROM r WHERE rank <= 3""",
    // full margin-mining replay: both directional top-4 lists (raw-
    // cosine ranking, the sim_knn_exact convention), candidate union,
    // micro-unit neighborhood denominators, round-6 margins, two-sided
    // mutual argmax at threshold 1.0
    "sim_bitext_margin" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings WHERE embedding IS NOT NULL),
         sa AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
         sb AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 2 <> 0),
         pf AS MATERIALIZED (SELECT sa.vec_id AS x, sb.vec_id AS y,
             list_cosine_similarity(sa.v, sb.v) AS c
           FROM sa, sb),
         fw AS (SELECT x, y, c, row_number() OVER (
             PARTITION BY x ORDER BY c DESC, y) AS rk FROM pf),
         fwd AS MATERIALIZED (SELECT x, y, round(c, 6) AS c FROM fw
           WHERE rk <= 4),
         bw AS (SELECT x, y, c, row_number() OVER (
             PARTITION BY y ORDER BY c DESC, x) AS rk FROM pf),
         bwd AS MATERIALIZED (SELECT x, y, round(c, 6) AS c FROM bw
           WHERE rk <= 4),
         cand AS (SELECT DISTINCT x, y, c FROM (
             SELECT * FROM fwd UNION ALL SELECT * FROM bwd)),
         df AS (SELECT x, sum(round(c * 1e6)::BIGINT) AS micro,
             count(*) AS n FROM fwd GROUP BY x),
         db AS (SELECT y, sum(round(c * 1e6)::BIGINT) AS micro,
             count(*) AS n FROM bwd GROUP BY y),
         m AS (SELECT cand.x, cand.y, cand.c,
             round(cand.c / (((df.micro::DOUBLE / 1e6) / df.n
               + (db.micro::DOUBLE / 1e6) / db.n) / 2.0), 6) AS margin
           FROM cand JOIN df USING (x) JOIN db USING (y)),
         r AS (SELECT x, y, c, margin,
             row_number() OVER (PARTITION BY x
               ORDER BY margin DESC, y) AS rx,
             row_number() OVER (PARTITION BY y
               ORDER BY margin DESC, x) AS ry
           FROM m)
         SELECT x AS src_id, y AS dst_id, c AS cosine, margin
         FROM r WHERE rx = 1 AND ry = 1 AND margin >= 1.0""",
    "sim_knn_exact" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_cosine_similarity(a.v, b.v) AS c
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         r AS (SELECT id_a, id_b, c, row_number() OVER (
             PARTITION BY id_a ORDER BY c DESC, id_b) AS rank FROM p)
         SELECT id_a, id_b, round(c, 6) AS cosine, rank::INT AS rank
         FROM r WHERE rank <= 3""",

    "mm_meta" ->
      """SELECT doc_id, 'image' AS media_type,
         octet_length(text::BLOB)::BIGINT AS byte_len,
         sha256(text) AS sha256_hex FROM documents""",
    "mm_decode" ->
      """SELECT doc_id AS id,
         (64 + octet_length(text::BLOB) % 577)::BIGINT AS width,
         (64 + (octet_length(text::BLOB) * 31) % 331)::BIGINT AS height,
         (1 + octet_length(text::BLOB) % 30)::BIGINT AS n_frames
         FROM documents""",
    "mm_frames" ->
      """SELECT doc_id AS id,
         unnest(generate_series(0, (1 + octet_length(text::BLOB) % 30) - 1, 5))::BIGINT AS frame_idx
         FROM documents""",
    "mm_resize" ->
      """SELECT doc_id AS id, 224::BIGINT AS out_w, 224::BIGINT AS out_h,
         16::BIGINT AS out_len FROM documents""",
    "mm_decode_real" ->
      """SELECT doc_id AS id, (16 + doc_id % 32)::BIGINT AS width,
         (16 + (doc_id * 7) % 32)::BIGINT AS height FROM documents""",
    "mm_resize_real" ->
      """SELECT doc_id AS id, 64::BIGINT AS out_w, 64::BIGINT AS out_h
         FROM documents""",
    "mm_audio_real" ->
      """SELECT doc_id AS id, 16000::BIGINT AS sample_rate, 1::BIGINT AS channels,
         (4000 + (doc_id % 100) * 16)::BIGINT AS n_frames,
         ((4000 + (doc_id % 100) * 16) * 1000 / 16000)::BIGINT AS duration_ms
         FROM documents""",
    // every consecutive (even, odd) id pair renders the same pattern at
    // two resolutions; the pHash pipeline must recover exactly these
    // pairs (empirical margins: same-pattern hamming <= 3, cross-pattern
    // > 10, thresholds asserted in MultimodalSpec; chunk blocking is
    // pigeonhole-exact at maxHamming = 8)
    "mm_phash_dedup" ->
      """SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
         WHERE a.doc_id % 2 = 0""",
    // syntheticAudio's tone is 110 + (id % 32)·55 Hz; the estimator must
    // land every doc back on its true class
    "mm_audio_dedup" ->
      """SELECT doc_id AS id, (doc_id % 32)::BIGINT AS fp_class FROM documents"""
  )

  private def stopwordListSql: String =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
      "that", "for", "on", "with", "as")
      .map(w => s"'$w'").mkString("[", ", ", "]")

  /** Exact 5-char-shingle Jaccard pairs of documents as DuckDB CTEs
    * (`t` shingle sets, `p` all pairs with jaccard) — shared by the
    * minhash and cluster oracles.
    */
  /** Exact pairwise Jaccard ≥-threshold feed for six dedup oracles.
    * Union size is na+nb−i (exact: `g` is distinct), NOT a second
    * list_distinct(list_concat) pass, and pairs whose SIZE ratio alone
    * caps Jaccard under 0.4 skip the intersection entirely (sound:
    * j ≤ min/max; such pairs are below every consumer's threshold) —
    * together ~4× faster per consumer, bit-identical j on survivors.
    */
  /** Unicode fixture tail shared by the text_unicode_norm query and its
    * oracle, built from explicit escapes so both sides carry the
    * IDENTICAL codepoints: decomposed e+U+0301 and u+U+0308 (NFC must
    * compose them), precomposed ß (U+00DF) and ë (U+00EB).
    */
  private val unicodeTail: String =
    " cafe\u0301 u\u0308ber stra\u00dfe no\u00ebl"

  private val minhashPairsSql: String =
    """t AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, length(n)-4), i -> n[i:i+4])) AS g
         FROM (SELECT doc_id,
                 regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS n
               FROM documents WHERE text IS NOT NULL)),
         p AS (SELECT id_a, id_b,
             CASE WHEN na + nb - i = 0 THEN 0.0
                  ELSE i::DOUBLE / (na + nb - i)::DOUBLE END AS j
           FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.g, b.g)) AS i,
                   len(a.g) AS na, len(b.g) AS nb
                 FROM t a JOIN t b ON a.doc_id < b.doc_id
                 WHERE least(len(a.g), len(b.g))::DOUBLE
                   >= 0.4 * greatest(len(a.g), len(b.g))))"""

  /** 60-bit value from the first 15 hex nibbles of md5 hex column `m` —
    * replicates [[graft.functions.ArrayOps.Md5Kernel.hash60]] in DuckDB
    * (15 nibbles keeps every shift below BIGINT overflow).
    */
  private val md5Hash60Sql: String =
    """list_sum(list_transform(generate_series(1, 15),
       k -> (strpos('0123456789abcdef', substr(m, k, 1)) - 1)::BIGINT << (4 * (15 - k))))"""

  /** Hyperplane-LSH bucket of DOUBLE[] column `vec` with md5-Rademacher
    * planes — replicates `hyperplaneLshBucket(_, nBits, 64, "md5")`:
    * plane(i)(j) = +1 iff the first md5 nibble of "i:j" is < 8; bit i set
    * iff the sequential dot product is >= 0.
    */
  private def lshBucketSql(vec: String, nBits: Int): String =
    s"""list_sum(list_transform(generate_series(0, ${nBits - 1}), i ->
       CASE WHEN list_dot_product($vec, list_transform(generate_series(0, 63), j ->
         CASE WHEN strpos('01234567', substr(md5(i || ':' || j), 1, 1)) > 0
              THEN 1.0 ELSE -1.0 END)) >= 0
       THEN (1::BIGINT << i) ELSE 0 END))"""

  /** trigram word n-grams of lower/trim text, distinct, as DuckDB SQL. */
  private def trigramsSql: String =
    """list_distinct(list_transform(
       generate_series(1, greatest(len(regexp_split_to_array(lower(trim(text)), '\s+')) - 2, 0)),
       i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\s+')[i:i+2], ' ')))"""

  /** DuckDB string literal (single-quoted, embedded quotes doubled). */
  private def sqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** NB replay: identical add-one-smoothed math, same arithmetic
    * association (ln(pos-frac) − ln(neg-frac) per token, prior + Σ llr
    * per doc); weak labels are the text_gopher expression inlined. The
    * model (counts / totals / llr) always trains on the FULL corpus;
    * `restrict` filters only the final per-doc scoring aggregation —
    * empty for the corpus-wide query, a doc_id predicate for the
    * persisted-model batch-scoring query.
    */
  private def nbOracle(restrict: String, corpusWhere: String = ""): String =
    s"""WITH t AS (SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
       FROM documents WHERE text IS NOT NULL$corpusWhere),
       lab AS (SELECT doc_id, toks,
         (len(toks) BETWEEN 50 AND 100000) AND
           (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
            list_sum(list_transform(toks, x -> length(x)))::DOUBLE / len(toks) END
            BETWEEN 3.0 AND 10.0) AS label
       FROM t),
       terms AS (SELECT doc_id, label, unnest(toks) AS term FROM lab),
       cnt AS (SELECT term,
           count(*) FILTER (WHERE label) AS c_pos,
           count(*) FILTER (WHERE NOT label) AS c_neg
         FROM terms GROUP BY term),
       tot AS (SELECT sum(c_pos) AS t_pos, sum(c_neg) AS t_neg,
           count(*) AS v FROM cnt),
       dt AS (SELECT count(*) FILTER (WHERE label) AS d_pos,
           count(*) FILTER (WHERE NOT label) AS d_neg
         FROM (SELECT DISTINCT doc_id, label FROM terms)),
       llr AS (SELECT term,
           ln((c_pos + 1)::DOUBLE / (t_pos + v)::DOUBLE) -
             ln((c_neg + 1)::DOUBLE / (t_neg + v)::DOUBLE) AS l
         FROM cnt CROSS JOIN tot)
       SELECT doc_id, any_value(label) AS label,
         count(*)::BIGINT AS n_tokens_scored,
         round(ln((d_pos + 1)::DOUBLE / (d_neg + 1)::DOUBLE) + sum(l), 6)
           AS nb_score,
         (ln((d_pos + 1)::DOUBLE / (d_neg + 1)::DOUBLE) + sum(l)) > 0
           AS predicted_pass
       FROM terms JOIN llr USING (term) CROSS JOIN dt
       $restrict
       GROUP BY doc_id, d_pos, d_neg"""

  /** Word-4-gram benchmark-overlap counts (docs 0-4 are the eval set) —
    * shared verbatim by pipeline_decontaminate and its bloom-prefiltered
    * scale path, whose outputs are defined to be identical.
    */
  /** Shared CTE prefix for the k-means queries: non-null vectors (`e`),
    * lowest-id seeds (`s0`), two Lloyd rounds of rounded-cosine
    * assignment + round-9 centroid recompute (`a1`/`m1`/`c1`,
    * `a2`/`m2`/`c2`).
    */
  private lazy val kmeansReplaySql: String = kmeansReplaySqlWhere("")

  /** The k=4 / iters=2 / dim=64 Lloyd replay with an extra corpus
    * filter on `e` — shared by the full-corpus faces (empty) and the
    * kmeans_model takedown row (victim exclusion: after
    * retrain-over-survivors the persisted model must equal a fresh
    * train on exactly the surviving vectors, seeds included).
    */
  private def kmeansReplaySqlWhere(extraWhere: String): String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL$extraWhere),
       s0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
              FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 4)),
       a1 AS (SELECT e.vec_id,
           (SELECT s.c FROM s0 s
            ORDER BY round(list_cosine_similarity(e.v, s.v), 6) DESC, s.c
            LIMIT 1) AS c FROM e),
       m1 AS (SELECT a1.c, js.j, round(avg(e.v[js.j]), 9) AS m
              FROM a1 JOIN e USING (vec_id)
              CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
              GROUP BY a1.c, js.j),
       c1 AS (SELECT s0.c, coalesce(mm.v, s0.v) AS v FROM s0
              LEFT JOIN (SELECT c, list(m ORDER BY j) AS v
                         FROM m1 GROUP BY c) mm USING (c)),
       a2 AS (SELECT e.vec_id,
           (SELECT s.c FROM c1 s
            ORDER BY round(list_cosine_similarity(e.v, s.v), 6) DESC, s.c
            LIMIT 1) AS c FROM e),
       m2 AS (SELECT a2.c, js.j, round(avg(e.v[js.j]), 9) AS m
              FROM a2 JOIN e USING (vec_id)
              CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
              GROUP BY a2.c, js.j),
       c2 AS (SELECT c1.c, coalesce(mm.v, c1.v) AS v FROM c1
              LEFT JOIN (SELECT c, list(m ORDER BY j) AS v
                         FROM m2 GROUP BY c) mm USING (c))"""

  /** Unrolled DuckDB replay of
    * [[graft.operators.Sampling.kCenterSelect]]: seed = lowest vec_id;
    * each round keeps a RUNNING min of round-6 squared distances to the
    * chosen centers (min of round-6 values — associative, so the
    * running form equals the operator's all-centers least()) and the
    * next center is its (distance DESC, vec_id ASC) argmax; the final
    * assignment row_numbers (round-6 distance ASC, chosen order) over
    * the vector × center cross join. The squared distance is
    * list_dot_product(diff, diff) — the same ordered fold as the
    * Spark-side sqDist.
    */
  private def kCenterReplaySql(t: Int, trainFrom: String = "e"): String = {
    def d2(a: String, b: String): String = {
      val diff = s"list_transform(generate_series(1, 64), j -> $a[j] - $b[j])"
      s"round(list_dot_product($diff, $diff), 6)"
    }
    val rounds = (2 to t).map { r =>
      s"""s${r - 1} AS MATERIALIZED (SELECT p.vec_id, p.v,
             ${if (r == 2) d2("p.v", "c.v")
               else s"least(p.d, ${d2("p.v", "c.v")})"} AS d
           FROM ${if (r == 2) trainFrom else s"s${r - 2}"} p, c${r - 1} c),
         c$r AS (SELECT vec_id, v FROM s${r - 1}
           ORDER BY d DESC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    val ctr = (1 to t)
      .map(r => s"SELECT $r AS ord, vec_id AS center_id, v FROM c$r")
      .mkString(" UNION ALL ")
    // the traversal runs over `trainFrom` (the frozen-coreset case
    // trains on a subset), the assignment always over the full corpus
    val ebCte = if (trainFrom == "e") ""
      else s"""$trainFrom AS MATERIALIZED (SELECT vec_id, v FROM e
             WHERE vec_id % 2 = 0),
           """
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       ${ebCte}c1 AS (SELECT vec_id, v FROM $trainFrom ORDER BY vec_id LIMIT 1),
       $rounds,
       ctr AS MATERIALIZED ($ctr),
       a0 AS (SELECT e.vec_id, ctr.ord, ctr.center_id,
           ${d2("e.v", "ctr.v")} AS d2
         FROM e CROSS JOIN ctr),
       a AS (SELECT vec_id, center_id, d2, row_number() OVER (
           PARTITION BY vec_id ORDER BY d2 ASC, ord) AS rn FROM a0)
       SELECT vec_id, center_id, d2 FROM a WHERE rn = 1"""
  }

  /** Unrolled DuckDB replay of
    * [[graft.operators.Sampling.kCenterParCenters]] + the assignment
    * tail: seed = lowest vec_id; each SAMPLING round takes the exact
    * integer micro-unit mass of the carried round-6 dmin, samples every
    * id with md5-60-bit uniform < ℓ·d/Σd (the operator's exact double
    * arithmetic, term for term), and folds the new candidates into the
    * dmin recurrence (min of round-6 values — order-free); the GREEDY
    * reduction then runs farthest-first over the candidate pool only
    * (ties to the lowest id, stop at distance 0 via the `d > 0` guard —
    * LEFT JOIN keeps the recurrence alive when a round picks nothing);
    * the final argmin assigns the full corpus against the chosen
    * centers in reduction order.
    */
  private def kCenterParReplaySql(t: Int, rounds: Int,
      oversample: Double): String = {
    def d2(a: String, b: String): String = {
      val diff = s"list_transform(generate_series(1, 64), j -> $a[j] - $b[j])"
      s"round(list_dot_product($diff, $diff), 6)"
    }
    val ell = math.max(1.0, oversample * t)
    val sampleRounds = (0 until rounds).map { r =>
      s"""m$r AS (SELECT coalesce(sum(CAST(round(d * 1e6) AS BIGINT)), 0)
             AS mass FROM ds$r),
         nc$r AS MATERIALIZED (SELECT p.vec_id, p.v FROM ds$r p, m$r
           WHERE m$r.mass > 0
             AND (${md5Hash60Sql(s"'kcp:$r:' || p.vec_id::VARCHAR")})::DOUBLE
               / 1152921504606846976.0
               < $ell * p.d / (m$r.mass / 1e6)),
         ds${r + 1} AS MATERIALIZED (SELECT p.vec_id, any_value(p.v) AS v,
             least(any_value(p.d),
               coalesce(min(${d2("p.v", "c.v")}), any_value(p.d))) AS d
           FROM ds$r p LEFT JOIN nc$r c ON true
           GROUP BY p.vec_id)"""
    }.mkString(",\n")
    val candUnion = (0 until rounds)
      .map(r => s"SELECT vec_id, v FROM nc$r").mkString(" UNION ALL ")
    val greedy = (2 to t).map { r =>
      s"""g$r AS (SELECT vec_id, v FROM gs${r - 1} WHERE d > 0
           ORDER BY d DESC, vec_id LIMIT 1),
         gs$r AS MATERIALIZED (SELECT p.vec_id, p.v,
             least(p.d, coalesce(${d2("p.v", "c.v")}, p.d)) AS d
           FROM gs${r - 1} p LEFT JOIN g$r c ON true)"""
    }.mkString(",\n")
    val ctr = (s"SELECT 1 AS ord, vec_id AS center_id, v FROM g1" +:
      (2 to t).map(r => s"SELECT $r AS ord, vec_id AS center_id, v FROM g$r"))
      .mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       g1 AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 1),
       ds0 AS MATERIALIZED (SELECT p.vec_id, p.v, ${d2("p.v", "c.v")} AS d
         FROM e p, g1 c),
       $sampleRounds,
       cand AS MATERIALIZED (SELECT vec_id, v FROM g1
         UNION ALL $candUnion),
       gs1 AS MATERIALIZED (SELECT p.vec_id, p.v, ${d2("p.v", "c.v")} AS d
         FROM cand p, g1 c),
       $greedy,
       ctr AS MATERIALIZED ($ctr),
       a0 AS (SELECT e.vec_id, ctr.ord, ctr.center_id,
           ${d2("e.v", "ctr.v")} AS d2
         FROM e CROSS JOIN ctr),
       a AS (SELECT vec_id, center_id, d2, row_number() OVER (
           PARTITION BY vec_id ORDER BY d2 ASC, ord) AS rn FROM a0)
       SELECT vec_id, center_id, d2 FROM a WHERE rn = 1"""
  }

  /** [[kCenterReplaySql]]'s GROWTH twin
    * ([[graft.operators.Sampling.kCenterExtend]]): the frozen even-half
    * traversal (tFrozen rounds), then the batch-side extension — each
    * odd row's starting running min is the MIN of its round-6 squared
    * distances to the frozen centers (a grouped min over the
    * batch × coreset cross join, ≡ the operator's bestCenter fold:
    * min of round-6 values is order-free), then tExtra farthest-point
    * rounds over the batch only — and the final argmin over the union
    * against all tFrozen + tExtra centers in their combined order.
    */
  private def kCenterExtendReplaySql(tFrozen: Int, tExtra: Int): String = {
    def d2(a: String, b: String): String = {
      val diff = s"list_transform(generate_series(1, 64), j -> $a[j] - $b[j])"
      s"round(list_dot_product($diff, $diff), 6)"
    }
    val frozenRounds = (2 to tFrozen).map { r =>
      s"""s${r - 1} AS MATERIALIZED (SELECT p.vec_id, p.v,
             ${if (r == 2) d2("p.v", "c.v")
               else s"least(p.d, ${d2("p.v", "c.v")})"} AS d
           FROM ${if (r == 2) "eb" else s"s${r - 2}"} p, c${r - 1} c),
         c$r AS (SELECT vec_id, v FROM s${r - 1}
           ORDER BY d DESC, vec_id LIMIT 1)"""
    }.mkString(",\n")
    val ctrF = (1 to tFrozen)
      .map(r => s"SELECT $r AS ord, vec_id AS center_id, v FROM c$r")
      .mkString(" UNION ALL ")
    val extRounds = (1 to tExtra).map { r =>
      s"""g$r AS (SELECT vec_id, v FROM x${r - 1}
           ORDER BY d DESC, vec_id LIMIT 1),
         x$r AS MATERIALIZED (SELECT p.vec_id, p.v,
             least(p.d, ${d2("p.v", "c.v")}) AS d
           FROM x${r - 1} p, g$r c)"""
    }.mkString(",\n")
    val ctrE = (1 to tExtra)
      .map(r => s"SELECT $tFrozen + $r AS ord, vec_id AS center_id, v FROM g$r")
      .mkString(" UNION ALL ")
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       eb AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
       eo AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 2 <> 0),
       c1 AS (SELECT vec_id, v FROM eb ORDER BY vec_id LIMIT 1),
       $frozenRounds,
       ctrf AS MATERIALIZED ($ctrF),
       x0 AS MATERIALIZED (SELECT p.vec_id, any_value(p.v) AS v,
           min(${d2("p.v", "c.v")}) AS d
         FROM eo p CROSS JOIN ctrf c GROUP BY p.vec_id),
       $extRounds,
       ctr AS MATERIALIZED (SELECT * FROM ctrf UNION ALL $ctrE),
       a0 AS (SELECT e.vec_id, ctr.ord, ctr.center_id,
           ${d2("e.v", "ctr.v")} AS d2
         FROM e CROSS JOIN ctr),
       a AS (SELECT vec_id, center_id, d2, row_number() OVER (
           PARTITION BY vec_id ORDER BY d2 ASC, ord) AS rn FROM a0)
       SELECT vec_id, center_id, d2 FROM a WHERE rn = 1"""
  }

  /** The graph_clustering_coef replay (triangle orientation replay +
    * the Watts-Strogatz normalization) — shared verbatim by the direct
    * and maintained-index faces: their equality IS the incremental
    * contract.
    */
  private val clusteringCoefReplaySql: String =
    """WITH e0 AS (SELECT DISTINCT
           least(a.l_partkey, b.l_partkey)::BIGINT AS a,
           greatest(a.l_partkey, b.l_partkey)::BIGINT AS b
         FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey <> b.l_partkey
         WHERE a.l_orderkey % 2 = 0),
       deg AS (SELECT id, count(*)::BIGINT AS deg FROM (
             SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0)
           GROUP BY id),
       o AS (SELECT
           CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                THEN e0.a ELSE e0.b END AS s,
           CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                THEN e0.b ELSE e0.a END AS t,
           CASE WHEN (da.deg, e0.a) < (db.deg, e0.b)
                THEN db.deg ELSE da.deg END AS dt
         FROM e0 JOIN deg da ON e0.a = da.id JOIN deg db ON e0.b = db.id),
       tr AS (SELECT x.s AS u, x.t AS v, y.t AS w
              FROM o x JOIN o y ON x.s = y.s
                AND (x.dt, x.t) < (y.dt, y.t)
                JOIN o z ON z.s = x.t AND z.t = y.t),
       cnt AS (SELECT id, count(*)::BIGINT AS triangles FROM (
             SELECT u AS id FROM tr UNION ALL SELECT v FROM tr
             UNION ALL SELECT w FROM tr)
           GROUP BY id)
       SELECT deg.id, coalesce(cnt.triangles, 0)::BIGINT AS triangles,
         deg.deg,
         round(CASE WHEN deg.deg >= 2
           THEN 2.0 * coalesce(cnt.triangles, 0) /
             (deg.deg * (deg.deg - 1))::DOUBLE
           ELSE 0.0 END, 6) AS coef
       FROM deg LEFT JOIN cnt USING (id)"""

  /** Unrolled DuckDB replay of [[graft.operators.Graph.kCore]]'s
    * synchronous peel over the canonical co-purchase graph: each round
    * recomputes degrees and keeps only edges whose BOTH endpoints still
    * have degree ≥ k. Rounds past the fixpoint are identity transforms,
    * so any unroll ≥ the Spark side's converged round count (which its
    * `maxRounds` bound guarantees loudly) replays the core exactly.
    */
  private def kCoreReplaySql(k: Int, rounds: Int): String = {
    val peels = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT id, count(*) AS c FROM (
             SELECT a AS id FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1})
           GROUP BY id),
         e$r AS MATERIALIZED (SELECT e${r - 1}.a, e${r - 1}.b FROM e${r - 1}
           JOIN d$r da ON e${r - 1}.a = da.id AND da.c >= $k
           JOIN d$r db ON e${r - 1}.b = db.id AND db.c >= $k)"""
    }.mkString(",\n")
    // MATERIALIZED is load-bearing: each round reads its predecessor
    // three times, and DuckDB's default CTE inlining would expand the
    // 12-round chain into 3^12 scans of e0
    s"""WITH e0 AS MATERIALIZED (SELECT DISTINCT
           least(a.l_partkey, b.l_partkey)::BIGINT AS a,
           greatest(a.l_partkey, b.l_partkey)::BIGINT AS b
         FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey <> b.l_partkey
         WHERE a.l_orderkey % 2 = 0),
       $peels
       SELECT id, count(*)::BIGINT AS core_deg FROM (
         SELECT a AS id FROM e$rounds UNION ALL SELECT b FROM e$rounds)
       GROUP BY id"""
  }

  /** Full DuckDB replay of the product-quantization chain
    * ([[graft.operators.Embeddings.pqTrain]]/`pqEncode`/`pqTopK`):
    * per SUBSPACE, the kmeansReplaySql Lloyd recipe in PQ's L2 metric
    * (lowest-id seeds, argmin of round-6 SQUARED distance with ties to
    * the lowest cluster, round-9 centroid means, empty cells keep their
    * previous centroid) over the subspace SLICE, two iterations; then
    * the encode argmin against the final codebook, reconstruction by
    * concatenating the chosen centroids in subspace order, and the
    * top-5 per query vector by (round-6 cosine desc, id) — scoring
    * stays cosine (the normalized ADC). Generated per subspace — the
    * SQL is mechanical, the generator keeps it honest.
    */
  /** One per-subspace codebook chain of the PQ replay (see
    * [[pqReplaySql]]): slice → lowest-id seeds → two Lloyd iterations in
    * PQ's L2 metric → per-vector decode row. The L2 argmin (the
    * PqEncode rule) is round-6 SQUARED distance ASC, ties to the
    * lowest cluster; the sum is UNROLLED term by term —
    * left-associative `+` is the exact fold order of the Spark-side
    * sqDist, and a lambda can't be used here anyway (DuckDB's binder
    * rejects correlated outer columns inside list_transform lambdas).
    * MATERIALIZED on the multiply-read CTEs: DuckDB's default inlining
    * would re-expand the slice scan per reference.
    */
  private def pqChainSql(s: Int, k: Int, subDim: Int,
      trainFrom: String = "e"): String = {
    val d2 = (1 to subDim)
      .map(j => s"(t.v[$j] - s.v[$j]) * (t.v[$j] - s.v[$j])")
      .mkString(" + ")
    def argmin(tbl: String): String =
      s"""(SELECT s.c FROM $tbl s
           ORDER BY round($d2, 6) ASC, s.c
           LIMIT 1)"""
    val lo = s * subDim + 1
    val hi = (s + 1) * subDim
    // t$s: the TRAIN slice (the codebooks' corpus); e$s: the ENCODE
    // slice — identical for the full-build replay, a subset for the
    // append replay (codebooks frozen at build time over the base)
    s"""e$s AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM e),
       t$s AS MATERIALIZED (SELECT vec_id, v[$lo:$hi] AS v FROM $trainFrom),
       s0_$s AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
              FROM (SELECT vec_id, v FROM t$s ORDER BY vec_id LIMIT $k)),
       a1_$s AS (SELECT t.vec_id, ${argmin(s"s0_$s")} AS c FROM t$s t),
       m1_$s AS (SELECT a.c, js.j, round(avg(t.v[js.j]), 9) AS m
              FROM a1_$s a JOIN t$s t USING (vec_id)
              CROSS JOIN (SELECT unnest(generate_series(1, $subDim)) AS j) js
              GROUP BY a.c, js.j),
       c1_$s AS MATERIALIZED (SELECT s0_$s.c, coalesce(mm.v, s0_$s.v) AS v FROM s0_$s
              LEFT JOIN (SELECT c, list(m ORDER BY j) AS v
                         FROM m1_$s GROUP BY c) mm USING (c)),
       a2_$s AS (SELECT t.vec_id, ${argmin(s"c1_$s")} AS c FROM t$s t),
       m2_$s AS (SELECT a.c, js.j, round(avg(t.v[js.j]), 9) AS m
              FROM a2_$s a JOIN t$s t USING (vec_id)
              CROSS JOIN (SELECT unnest(generate_series(1, $subDim)) AS j) js
              GROUP BY a.c, js.j),
       c2_$s AS MATERIALIZED (SELECT c1_$s.c, coalesce(mm.v, c1_$s.v) AS v FROM c1_$s
              LEFT JOIN (SELECT c, list(m ORDER BY j) AS v
                         FROM m2_$s GROUP BY c) mm USING (c)),
       dec$s AS (SELECT t.vec_id, c, cb.v
              FROM (SELECT t.vec_id, ${argmin(s"c2_$s")} AS c FROM e$s t) t
              JOIN c2_$s cb USING (c))"""
  }

  /** The m chains plus the reconstruction table `d` (vec_id, dv). */
  private def pqDecodeSql(m: Int, k: Int, subDim: Int,
      trainFrom: String = "e"): String = {
    val joins = (1 until m).map(s => s"JOIN dec$s USING (vec_id)").mkString(" ")
    val concat = (0 until m).map(s => s"dec$s.v").mkString(" || ")
    s"""${(0 until m).map(pqChainSql(_, k, subDim, trainFrom)).mkString(",\n")},
       d AS (SELECT dec0.vec_id, $concat AS dv FROM dec0 $joins)"""
  }

  private def pqReplaySql(m: Int, k: Int, subDim: Int): String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       ${pqDecodeSql(m, k, subDim)},
       q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 3),
       sc AS (SELECT q.q_id::BIGINT AS q_id, d.vec_id::BIGINT AS id,
           round(list_cosine_similarity(q.qv, d.dv), 6) AS pq_cos
         FROM q, d WHERE d.vec_id <> q.q_id),
       r AS (SELECT q_id, id, pq_cos, row_number() OVER (
           PARTITION BY q_id ORDER BY pq_cos DESC, id) AS rk FROM sc)
       SELECT q_id, id, pq_cos, rk::BIGINT AS rank FROM r WHERE rk <= 5"""

  /** Full DuckDB replay of the IVF-PQ index + probe
    * ([[graft.operators.Similarity.ivfWriteIndexPQ]] at kernel="md5",
    * lloydIters=0 / [[graft.operators.Similarity.ivfTopKFromIndexPQ]]):
    * coarse cells are the md5-Rademacher LSH buckets (lshBucketSql —
    * the same plane construction every LSH oracle here replays),
    * centroids are per-cell round-9 component means, the probe keeps
    * the nProbe cells by (round-6 centroid cosine DESC, cell ASC), the
    * codebooks/codes replay through [[pqChainSql]], and the final
    * ranking is (round-6 ADC cosine DESC, id ASC) over the probed
    * cells only. Every stored byte of the index and every ranking
    * decision of the probe is recomputed independently.
    */
  private def ivfPqReplaySql(m: Int, k: Int, subDim: Int, nBits: Int,
      nProbe: Int, topK: Int): String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       cells AS MATERIALIZED (SELECT vec_id, ${lshBucketSql("v", nBits)} AS cell
         FROM e),
       cents AS MATERIALIZED (SELECT cell, list(m ORDER BY j) AS cv FROM (
           SELECT c.cell, js.j, round(avg(e.v[js.j]), 9) AS m
           FROM cells c JOIN e USING (vec_id)
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
           GROUP BY c.cell, js.j)
         GROUP BY cell),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       probe AS (SELECT cell FROM cents, q
         ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, cell
         LIMIT $nProbe),
       ${pqDecodeSql(m, k, subDim)}
       SELECT d.vec_id, round(list_cosine_similarity(q.qv, d.dv), 6) AS pq_cos
       FROM d JOIN cells USING (vec_id), q
       WHERE cells.cell IN (SELECT cell FROM probe)
       ORDER BY pq_cos DESC, d.vec_id
       LIMIT $topK"""

  /** [[ivfPqReplaySql]]'s REFINE-TIER twin
    * ([[graft.operators.Similarity.ivfTopKFromIndexPQRefine]] over a
    * `withRefine = true` index): the same derandomized IVF-PQ chain,
    * then (1) the ADC shortlist cut — top `refineFactor · topK` by
    * (round-6 ADC cosine DESC, id ASC) over the probed cells — and
    * (2) the SQ8 re-rank: each shortlist row re-quantized exactly as
    * the index writer stores it (per-row DOUBLE scale = max |vᵢ| for
    * the quantization, the FLOAT32-rounded scale for dequantization —
    * the same asymmetry the engine has), re-scored by (round-6 cosine
    * DESC, id ASC), top `topK`. Both tiers' every byte and every
    * ranking decision are recomputed independently.
    */
  private def ivfPqRefineReplaySql(m: Int, k: Int, subDim: Int, nBits: Int,
      nProbe: Int, topK: Int, refineFactor: Int,
      exclude: String = "false"): String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       cells AS MATERIALIZED (SELECT vec_id, ${lshBucketSql("v", nBits)} AS cell
         FROM e),
       cents AS MATERIALIZED (SELECT cell, list(m ORDER BY j) AS cv FROM (
           SELECT c.cell, js.j, round(avg(e.v[js.j]), 9) AS m
           FROM cells c JOIN e USING (vec_id)
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
           GROUP BY c.cell, js.j)
         GROUP BY cell),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       probe AS (SELECT cell FROM cents, q
         ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, cell
         LIMIT $nProbe),
       ${pqDecodeSql(m, k, subDim)},
       adc AS MATERIALIZED (SELECT d.vec_id,
           round(list_cosine_similarity(q.qv, d.dv), 6) AS adc
         FROM d JOIN cells USING (vec_id), q
         WHERE cells.cell IN (SELECT cell FROM probe)
           AND NOT ($exclude)
         ORDER BY adc DESC, d.vec_id
         LIMIT ${refineFactor * topK}),
       sq AS (SELECT e.vec_id, e.v,
           list_max(list_transform(e.v, x -> abs(x))) AS scd
         FROM e JOIN adc USING (vec_id)),
       qq AS (SELECT vec_id,
           list_transform(v, x -> CASE WHEN scd = 0 THEN 0
             ELSE floor(x / scd * 127.0 + 0.5)::INT END) AS codes,
           scd::FLOAT AS scf
         FROM sq),
       rr AS (SELECT qq.vec_id, round(list_cosine_similarity(q.qv,
           list_transform(codes, c -> c * (scf::DOUBLE / 127.0))), 6)
           AS cosine
         FROM qq, q)
       SELECT vec_id, cosine FROM rr
       ORDER BY cosine DESC, vec_id
       LIMIT $topK"""

  /** [[ivfPqRefineReplaySql]]'s BATCHED-JOIN twin
    * ([[graft.operators.Similarity.ivfPqTopKJoinRefine]]): the same
    * derandomized IVF-PQ chain, replayed PER QUERY of the `vec_id <
    * nQueries` batch — per-query probe-cell ranking (round-6 centroid
    * cosine DESC, cell ASC), the ADC shortlist cut at refineFactor·topK
    * by (round-6 ADC DESC, id ASC) with self-matches excluded, the SQ8
    * re-quantization (double scale in, float32 scale stored), and the
    * (round-6 SQ8 cosine DESC, id ASC) re-rank to topK.
    */
  private def ivfPqJoinRefineReplaySql(m: Int, k: Int, subDim: Int,
      nBits: Int, nProbe: Int, topK: Int, refineFactor: Int,
      nQueries: Int): String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       cells AS MATERIALIZED (SELECT vec_id, ${lshBucketSql("v", nBits)} AS cell
         FROM e),
       cents AS MATERIALIZED (SELECT cell, list(m ORDER BY j) AS cv FROM (
           SELECT c.cell, js.j, round(avg(e.v[js.j]), 9) AS m
           FROM cells c JOIN e USING (vec_id)
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
           GROUP BY c.cell, js.j)
         GROUP BY cell),
       qs AS MATERIALIZED (SELECT vec_id AS q_id, v AS qv FROM e
         WHERE vec_id < $nQueries),
       probe AS MATERIALIZED (SELECT q_id, cell FROM (
           SELECT q.q_id, c.cell, row_number() OVER (PARTITION BY q.q_id
             ORDER BY round(list_cosine_similarity(c.cv, q.qv), 6) DESC,
               c.cell) AS rn
           FROM qs q CROSS JOIN cents c)
         WHERE rn <= $nProbe),
       ${pqDecodeSql(m, k, subDim)},
       adc AS MATERIALIZED (SELECT q_id, vec_id, adc FROM (
           SELECT p.q_id, d.vec_id, round(list_cosine_similarity(q.qv, d.dv),
               6) AS adc,
             row_number() OVER (PARTITION BY p.q_id ORDER BY
               round(list_cosine_similarity(q.qv, d.dv), 6) DESC,
               d.vec_id) AS rn
           FROM probe p JOIN cells ON cells.cell = p.cell
           JOIN d ON d.vec_id = cells.vec_id
           JOIN qs q ON q.q_id = p.q_id
           WHERE d.vec_id <> p.q_id)
         WHERE rn <= ${refineFactor * topK}),
       sq AS (SELECT e.vec_id, e.v,
           list_max(list_transform(e.v, x -> abs(x))) AS scd
         FROM e JOIN (SELECT DISTINCT vec_id FROM adc) ax USING (vec_id)),
       qq AS (SELECT vec_id,
           list_transform(v, x -> CASE WHEN scd = 0 THEN 0
             ELSE floor(x / scd * 127.0 + 0.5)::INT END) AS codes,
           scd::FLOAT AS scf
         FROM sq),
       rr AS (SELECT adc.q_id, qq.vec_id, round(list_cosine_similarity(q.qv,
           list_transform(codes, c -> c * (scf::DOUBLE / 127.0))), 6)
           AS cosine
         FROM adc JOIN qq USING (vec_id) JOIN qs q ON q.q_id = adc.q_id)
       SELECT q_id, vec_id AS id, cosine, rank FROM (
         SELECT q_id, vec_id, cosine, row_number() OVER (PARTITION BY q_id
           ORDER BY cosine DESC, vec_id) AS rank FROM rr)
       WHERE rank <= $topK"""

  /** Full replay of the INDEXED margin miner
    * (`sim_bitext_margin_indexed`): evens and odds are each SQ8-indexed
    * (md5 LSH cells, round-9 centroids — the engine's derandomized
    * build), each side's queries rank the OTHER side's cells by
    * (round-6 centroid cosine DESC, cell ASC) and keep nProbe, the
    * directional top-`topK` lists score raw query against DEQUANTIZED
    * candidate (round-6, ties id ASC), and the margin chain is the
    * sim_bitext_margin oracle with the candidate union canonicalized
    * to each pair's HIGHER score (the asymmetric-quantization rule).
    */
  private def bitextMarginIndexedSql(nBits: Int, nProbe: Int,
      topK: Int): String = {
    def sq8(src: String): String =
      s"""(SELECT vec_id, list_transform(v, x -> CASE WHEN scd = 0 THEN 0.0
           ELSE (floor(x / scd * 127.0 + 0.5)::INT
                 * (scd::FLOAT::DOUBLE / 127.0)) END) AS vq
         FROM (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS scd FROM $src))"""
    def cents(cellsRel: String, src: String): String =
      s"""(SELECT cell, list(m ORDER BY j) AS cv FROM (
           SELECT c.cell, js.j, round(avg(s.v[js.j]), 9) AS m
           FROM $cellsRel c JOIN $src s USING (vec_id)
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
           GROUP BY c.cell, js.j)
         GROUP BY cell)"""
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       sa AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
       sb AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 2 <> 0),
       ca AS MATERIALIZED (SELECT vec_id, ${lshBucketSql("v", nBits)} AS cell
         FROM sa),
       cb AS MATERIALIZED (SELECT vec_id, ${lshBucketSql("v", nBits)} AS cell
         FROM sb),
       centa AS MATERIALIZED ${cents("ca", "sa")},
       centb AS MATERIALIZED ${cents("cb", "sb")},
       dqa AS MATERIALIZED ${sq8("sa")},
       dqb AS MATERIALIZED ${sq8("sb")},
       pfw AS MATERIALIZED (SELECT x, cell FROM (
           SELECT q.vec_id AS x, c.cell, row_number() OVER (
             PARTITION BY q.vec_id ORDER BY
               round(list_cosine_similarity(c.cv, q.v), 6) DESC, c.cell) AS rn
           FROM sa q CROSS JOIN centb c)
         WHERE rn <= $nProbe),
       pbw AS MATERIALIZED (SELECT y, cell FROM (
           SELECT q.vec_id AS y, c.cell, row_number() OVER (
             PARTITION BY q.vec_id ORDER BY
               round(list_cosine_similarity(c.cv, q.v), 6) DESC, c.cell) AS rn
           FROM sb q CROSS JOIN centa c)
         WHERE rn <= $nProbe),
       fwd AS MATERIALIZED (SELECT x, y, c FROM (
           SELECT p.x, cb.vec_id AS y,
             round(list_cosine_similarity(q.v, dqb.vq), 6) AS c,
             row_number() OVER (PARTITION BY p.x ORDER BY
               round(list_cosine_similarity(q.v, dqb.vq), 6) DESC,
               cb.vec_id) AS rk
           FROM pfw p JOIN cb ON cb.cell = p.cell
           JOIN dqb ON dqb.vec_id = cb.vec_id
           JOIN sa q ON q.vec_id = p.x)
         WHERE rk <= $topK),
       bwd AS MATERIALIZED (SELECT x, y, c FROM (
           SELECT ca.vec_id AS x, p.y,
             round(list_cosine_similarity(q.v, dqa.vq), 6) AS c,
             row_number() OVER (PARTITION BY p.y ORDER BY
               round(list_cosine_similarity(q.v, dqa.vq), 6) DESC,
               ca.vec_id) AS rk
           FROM pbw p JOIN ca ON ca.cell = p.cell
           JOIN dqa ON dqa.vec_id = ca.vec_id
           JOIN sb q ON q.vec_id = p.y)
         WHERE rk <= $topK),
       cand AS (SELECT x, y, max(c) AS c FROM (
           SELECT * FROM fwd UNION ALL SELECT * FROM bwd) GROUP BY x, y),
       dnf AS (SELECT x, sum(round(c * 1e6)::BIGINT) AS micro,
           count(*) AS n FROM fwd GROUP BY x),
       dnb AS (SELECT y, sum(round(c * 1e6)::BIGINT) AS micro,
           count(*) AS n FROM bwd GROUP BY y),
       m AS (SELECT cand.x, cand.y, cand.c,
           round(cand.c / (((dnf.micro::DOUBLE / 1e6) / dnf.n
             + (dnb.micro::DOUBLE / 1e6) / dnb.n) / 2.0), 6) AS margin
         FROM cand JOIN dnf USING (x) JOIN dnb USING (y)),
       r AS (SELECT x, y, c, margin,
           row_number() OVER (PARTITION BY x
             ORDER BY margin DESC, y) AS rx,
           row_number() OVER (PARTITION BY y
             ORDER BY margin DESC, x) AS ry
         FROM m)
       SELECT x AS src_id, y AS dst_id, c AS cosine, margin
       FROM r WHERE rx = 1 AND ry = 1 AND margin >= 1.0"""
  }

  /** [[ivfPqReplaySql]]'s APPEND-HISTORY twin
    * ([[graft.operators.Similarity.ivfAppendPQ]]): the index was BUILT
    * on the even vec_ids (md5 LSH cells, round-9 centroids over evens
    * only, codebooks trained on evens only) and the odds were APPENDED
    * against the frozen index — each odd row's cell is the argmax of
    * round-6 cosine against the FROZEN centroids (ties → lowest cell),
    * its codes the frozen codebooks' L2 argmins. The replay recomputes
    * both phases and re-ranks the probe over the union — checking that
    * appended rows are stored and ranked indistinguishably from built
    * rows, byte for byte.
    */
  private def ivfPqAppendReplaySql(m: Int, k: Int, subDim: Int, nBits: Int,
      nProbe: Int, topK: Int): String =
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
         FROM embeddings WHERE embedding IS NOT NULL),
       eb AS MATERIALIZED (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0),
       cellsb AS MATERIALIZED (SELECT vec_id, ${lshBucketSql("v", nBits)} AS cell
         FROM eb),
       cents AS MATERIALIZED (SELECT cell, list(m ORDER BY j) AS cv FROM (
           SELECT c.cell, js.j, round(avg(eb.v[js.j]), 9) AS m
           FROM cellsb c JOIN eb USING (vec_id)
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS j) js
           GROUP BY c.cell, js.j)
         GROUP BY cell),
       cellsd AS MATERIALIZED (SELECT t.vec_id,
           (SELECT s.cell FROM cents s
            ORDER BY round(list_cosine_similarity(t.v, s.cv), 6) DESC, s.cell
            LIMIT 1) AS cell
         FROM e t WHERE t.vec_id % 2 <> 0),
       cells AS MATERIALIZED (SELECT * FROM cellsb UNION ALL
         SELECT * FROM cellsd),
       q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
       probe AS (SELECT cell FROM cents, q
         ORDER BY round(list_cosine_similarity(cv, qv), 6) DESC, cell
         LIMIT $nProbe),
       ${pqDecodeSql(m, k, subDim, trainFrom = "eb")}
       SELECT d.vec_id, round(list_cosine_similarity(q.qv, d.dv), 6) AS pq_cos
       FROM d JOIN cells USING (vec_id), q
       WHERE cells.cell IN (SELECT cell FROM probe)
       ORDER BY pq_cos DESC, d.vec_id
       LIMIT $topK"""

  /** Shared CTE prefix for the DSIR queries: hashed word-bigram feature
    * table over documents (`b`), target/raw bucket distributions with
    * add-one smoothing over 256 buckets, per-bucket log ratios, and
    * per-doc weight sums (`s`). Target = sources src0/src1; hash kernel =
    * first 4 md5 nibbles mod 256 (the sample_hash strpos replication).
    */
  private lazy val dsirWeightsSql: String = dsirWeightsSqlWhere("")

  /** The DSIR replay with an extra corpus predicate — shared by the
    * direct/persisted-model faces (empty) and the unlearning face
    * (victims out of BOTH the raw and target distributions, exactly
    * what subtracting a victim's counts from both roles does).
    */
  private def dsirWeightsSqlWhere(corpusWhere: String): String =
    s"""WITH tok AS (SELECT doc_id, source,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
       FROM documents WHERE trim(text) <> ''$corpusWhere),
       g AS (SELECT doc_id, source, t[i] || ' ' || t[i + 1] AS g
         FROM (SELECT doc_id, source, t,
                 unnest(generate_series(1, len(t) - 1)) AS i
               FROM tok WHERE len(t) >= 2)),
       b AS (SELECT doc_id, source,
           list_sum(list_transform(generate_series(1, 4),
             k -> (strpos('0123456789abcdef', substr(md5(g), k, 1)) - 1)::BIGINT
                  << (4 * (4 - k)))) % 256 AS b
         FROM g),
       tc AS (SELECT b, count(*)::DOUBLE AS ct FROM b
              WHERE source IN ('src0', 'src1') GROUP BY 1),
       rc AS (SELECT b, count(*)::DOUBLE AS cr FROM b GROUP BY 1),
       tt AS (SELECT sum(ct) AS t FROM tc),
       rt AS (SELECT sum(cr) AS r FROM rc),
       lr AS (SELECT rc.b,
           ln((coalesce(tc.ct, 0) + 1) / (tt.t + 256)) -
           ln((rc.cr + 1) / (rt.r + 256)) AS lr
         FROM rc LEFT JOIN tc USING (b) CROSS JOIN tt CROSS JOIN rt),
       s AS (SELECT doc_id, count(*)::BIGINT AS n_feats, sum(lr.lr) AS logw
             FROM b JOIN lr USING (b) GROUP BY 1)"""

  /** Asymmetric containment replay (shared by
    * pipeline_decontaminate_containment and its persisted-index face —
    * the index probe is contractually identical to the direct scan).
    */
  private lazy val containmentOracle: String = containmentOracleWhere("")

  /** The containment-screen replay with an extra corpus-side predicate —
    * shared by the direct/indexed faces (empty) and the deletion face.
    */
  private def containmentOracleWhere(corpusWhere: String): String =
    s"""WITH t AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, length(n)-11), i -> n[i:i+11])) AS g
         FROM (SELECT doc_id,
                 regexp_replace(trim(lower(nfc_normalize(text))), '\\s+', ' ', 'g') AS n
               FROM documents WHERE text IS NOT NULL)),
       ev AS (SELECT doc_id AS eval_id, g AS eg FROM t
              WHERE doc_id % 10 = 0 AND len(g) > 0),
       co AS (SELECT doc_id, g AS cg FROM t
              WHERE doc_id % 10 <> 0$corpusWhere),
       p AS (SELECT doc_id, eval_id,
           len(list_intersect(cg, eg))::DOUBLE / len(eg) AS c
         FROM co, ev)
       SELECT doc_id, eval_id, round(c, 6) AS containment
       FROM p WHERE c >= 0.8"""

  /** DuckDB twin of [[graft.functions.ArrayOps.Md5Kernel]].hash60: the
    * first 15 hex nibbles of md5(x) parsed as a 60-bit BIGINT — the
    * engine's SQL-replicable hash kernel (theta sketches here; the LSH
    * oracles inline the same strpos-parse idiom).
    */
  private def md5Hash60Sql(x: String): String =
    s"""list_sum(list_transform(generate_series(1, 15),
        k -> (strpos('0123456789abcdef', substr(md5($x), k, 1)) - 1)::BIGINT
             << (4 * (15 - k))))"""

  /** Okapi BM25 replay (shared by text_bm25 and text_bm25_indexed — the
    * indexed probe is contractually bit-identical to the direct scan).
    */
  private lazy val bm25Oracle: String = bm25OracleWhere("")

  /** The direct-bm25 replay over `documents` restricted by `where` —
    * shared by the corpus, indexed, and deletion-channel faces (all
    * three contract bit-identical scores over their live doc set).
    */
  private def bm25OracleWhere(where: String): String =
    s"""WITH tok AS (SELECT doc_id,
           CASE WHEN text IS NULL THEN NULL
                WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS t
         FROM documents $where),
       dl AS (SELECT doc_id, len(t)::DOUBLE AS dl FROM tok WHERE t IS NOT NULL),
       stats AS (SELECT (SELECT count(*) FROM tok)::DOUBLE AS n,
                        coalesce((SELECT avg(dl) FROM dl), 1.0) AS avgdl),
       hits AS (SELECT doc_id, unnest(t) AS term FROM tok),
       tf AS (SELECT h.doc_id, term, dl.dl, count(*)::DOUBLE AS tf
              FROM hits h JOIN dl USING (doc_id)
              WHERE term IN ('spark', 'vector', 'hash', 'zeppelin')
              GROUP BY 1, 2, 3),
       dfx AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
       sc AS (SELECT doc_id,
           -- ::DOUBLE on 1.2: DuckDB's DECIMAL literal route would
           -- yield the 2.2-double, one ulp off Spark's double(1.2)+1.0
           ln(1.0 + (s.n - df + 0.5) / (df + 0.5)) * tf
             * (1.2::DOUBLE + 1.0) /
             (tf + 1.2::DOUBLE * (1.0 - 0.75 + 0.75 * dl / s.avgdl)) AS sv
         FROM tf JOIN dfx USING (term) CROSS JOIN stats s)
       SELECT doc_id, count(*)::BIGINT AS n_query_terms_hit,
         round(sum(round(sv * 1e6)::BIGINT)::DOUBLE / 1e6, 6) AS bm25
       FROM sc GROUP BY doc_id"""

  /** The orchestrated-takedown oracle: one (store, n, checksum) row per
    * registered store, each recomputed from a rebuild/retrain over the
    * surviving corpus (victims = id ≡ 2 (mod 9)) via the SAME
    * parameterized fragments the per-store deletion oracles use.
    * Checksums are integer-exact by construction: ids, integer counts,
    * a 10^6 marker per predicted_pass, and bm25's micro-unit sums
    * (defined as integers on both engines) — no float arithmetic
    * crosses the engine boundary.
    */
  private lazy val takedownAllOracle: String = {
    def wrap(store: String, inner: String, checksum: String): String =
      s"""SELECT '$store' AS store, count(*)::BIGINT AS n,
          coalesce(sum($checksum), 0)::BIGINT AS checksum FROM ($inner)"""
    Seq(
      wrap("nb_model", nbOracle("", " AND doc_id % 9 <> 2"),
        "doc_id + n_tokens_scored + " +
          "CASE WHEN predicted_pass THEN 1000000 ELSE 0 END"),
      wrap("dsir", dsirWeightsSqlWhere(" AND doc_id % 9 <> 2") +
        """ SELECT d.doc_id, coalesce(s.n_feats, 0)::BIGINT AS n_feats
            FROM documents d LEFT JOIN s USING (doc_id)
            WHERE d.doc_id % 9 <> 2""",
        "doc_id + n_feats"),
      wrap("bm25", bm25OracleWhere("WHERE doc_id % 9 <> 2"),
        "doc_id + n_query_terms_hit + round(bm25 * 1e6)::BIGINT"),
      wrap("decontam", decontaminateOracleWhere(" AND doc_id % 9 <> 2"),
        "doc_id + n_overlap_grams"),
      wrap("containment", containmentOracleWhere(" AND doc_id % 9 <> 2"),
        "doc_id + eval_id"),
      wrap("jaccard_prefix",
        s"""WITH $minhashPairsSql
            SELECT id_a, id_b FROM p
            WHERE j >= 0.7 AND id_b >= 250
              AND id_a % 9 <> 2 AND id_b % 9 <> 2""",
        "id_a + id_b"),
      wrap("ivf",
        """SELECT vec_id FROM embeddings
           WHERE embedding IS NOT NULL AND vec_id % 9 <> 2""",
        "vec_id"),
      // retrain-over-survivors: the persisted model's post-compact
      // assignment must equal the Lloyd replay over ONLY the surviving
      // vectors (survivor seeds included) — a skipped retrain keeps the
      // victim-trained centroids and mismatches here
      wrap("kmeans_model",
        kmeansReplaySqlWhere(" AND vec_id % 9 <> 2") +
        """ SELECT e.vec_id,
             (SELECT s.c FROM c2 s
              ORDER BY round(list_cosine_similarity(e.v, s.v), 6) DESC, s.c
              LIMIT 1)::INT AS cluster
           FROM e""",
        "vec_id + cluster"),
      wrap("kmeans_model_manifest",
        """SELECT vec_id FROM embeddings
           WHERE embedding IS NOT NULL AND vec_id % 9 <> 2""",
        "vec_id"),
      // PQ twin: codebooks retrained over survivors, encode replayed
      // per subspace (the pqChainSql Lloyd-in-L2 recipe) — the per-row
      // code sum pins every argmin decision
      wrap("pq_model",
        s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
             FROM embeddings
             WHERE embedding IS NOT NULL AND vec_id % 9 <> 2),
           ${pqDecodeSql(4, 8, 16)},
           enc AS (SELECT dec0.vec_id,
               dec0.c + dec1.c + dec2.c + dec3.c AS code_sum
             FROM dec0 JOIN dec1 USING (vec_id) JOIN dec2 USING (vec_id)
             JOIN dec3 USING (vec_id))
           SELECT vec_id, code_sum FROM enc""",
        "vec_id + code_sum"),
      wrap("pq_model_manifest",
        """SELECT vec_id FROM embeddings
           WHERE embedding IS NOT NULL AND vec_id % 9 <> 2""",
        "vec_id"),
      wrap("triangles", trianglesNodeDeletedSql("% 9 <> 2"),
        "id + triangles"),
      // the owner-forgetting contract over the FULL corpus: the
      // incrementally-built index (old batch + delta) equals the
      // one-shot first-occurrence winners (old ids < new ids), minus
      // every victim-OWNED entry after physical compaction
      wrap("cdc_state",
        """WITH base AS (SELECT doc_id,
               regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS t
             FROM documents
             WHERE text IS NOT NULL
               AND length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) > 0),
           b AS (SELECT doc_id, t, length(t)::INT AS n,
               list_filter(generate_series(8, length(t)::INT), i ->
                 list_sum(list_transform(generate_series(1, 8), j ->
                   ascii(substr(t, i - 8 + j, 1))::BIGINT
                     * ((31 ** (8 - j))::BIGINT))) % 64 = 0) AS bd
             FROM base),
           c AS (SELECT doc_id, t,
               list_concat([1], list_transform(bd, x -> x + 1)) AS ss,
               list_concat(bd, [n]) AS ee
             FROM b),
           ch AS (SELECT doc_id, (k - 1)::INT AS idx,
               substr(t, ss[k], ee[k] - ss[k] + 1) AS chunk
             FROM c, unnest(generate_series(1, len(ss))) AS u(k)
             WHERE ee[k] >= ss[k]),
           w AS (SELECT
               min(doc_id * 2147483648 + idx) // 2147483648 AS doc_id,
               min(doc_id * 2147483648 + idx) % 2147483648 AS chunk_idx
             FROM ch GROUP BY md5(chunk))
           SELECT doc_id, chunk_idx FROM w WHERE doc_id % 9 <> 2""",
        "doc_id + chunk_idx"),
      // re-closure over the surviving exact-jaccard pairs — the same
      // recursive replay the dedup_incremental_deleted oracle runs
      wrap("cluster_state",
        s"""WITH RECURSIVE $minhashPairsSql,
           pr AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE j >= 0.4
             AND id_a % 9 <> 2 AND id_b % 9 <> 2),
           edges AS (SELECT id_a AS a, id_b AS b FROM pr
                     UNION SELECT id_b, id_a FROM pr),
           reach(a, b) AS (
             SELECT a, b FROM edges
             UNION
             SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
           SELECT a AS id, least(a, min(b))::BIGINT AS cluster_id
           FROM reach GROUP BY a""",
        "id + cluster_id"),
      wrap("table",
        "SELECT doc_id FROM documents WHERE doc_id % 9 <> 2",
        "doc_id")
    ).mkString(" UNION ALL ")
  }

  /** graph_triangles_deleted's replay with the edge filter replaced by
    * NODE removal (every edge incident to a victim node leaves) — the
    * Graph.trianglesIndexDeleteNodes contract.
    */
  private def trianglesNodeDeletedSql(nodeKeep: String): String =
    s"""WITH e0 AS (SELECT DISTINCT
           least(a.l_partkey, b.l_partkey)::BIGINT AS a,
           greatest(a.l_partkey, b.l_partkey)::BIGINT AS b
         FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey <> b.l_partkey
         WHERE a.l_orderkey % 4 = 0),
       es AS (SELECT a, b FROM e0 WHERE a $nodeKeep AND b $nodeKeep),
       deg AS (SELECT id, count(*)::BIGINT AS deg FROM (
             SELECT a AS id FROM es UNION ALL SELECT b FROM es)
           GROUP BY id),
       o AS (SELECT
           CASE WHEN (da.deg, es.a) < (db.deg, es.b)
                THEN es.a ELSE es.b END AS s,
           CASE WHEN (da.deg, es.a) < (db.deg, es.b)
                THEN es.b ELSE es.a END AS t,
           CASE WHEN (da.deg, es.a) < (db.deg, es.b)
                THEN db.deg ELSE da.deg END AS dt
         FROM es JOIN deg da ON es.a = da.id JOIN deg db ON es.b = db.id),
       tr AS (SELECT x.s AS u, x.t AS v, y.t AS w
              FROM o x JOIN o y ON x.s = y.s
                AND (x.dt, x.t) < (y.dt, y.t)
                JOIN o z ON z.s = x.t AND z.t = y.t),
       cnt AS (SELECT id, count(*)::BIGINT AS triangles FROM (
             SELECT u AS id FROM tr UNION ALL SELECT v FROM tr
             UNION ALL SELECT w FROM tr)
           GROUP BY id)
       SELECT deg.id, coalesce(cnt.triangles, 0)::BIGINT AS triangles
       FROM deg LEFT JOIN cnt USING (id)"""

  private lazy val decontaminateOracle: String = decontaminateOracleWhere("")

  /** The word-4-gram decontamination replay with an extra corpus-side
    * predicate — shared by the direct/bloom/indexed faces (empty) and
    * the deletion face (victim exclusion: a probe after a delete must
    * answer as if the index held only the survivors).
    */
  private def decontaminateOracleWhere(corpusWhere: String): String =
    s"""WITH t AS (SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []::VARCHAR[]
              ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
       FROM (SELECT doc_id, nfc_normalize(text) AS text FROM documents)),
       g AS (SELECT doc_id, list_distinct(list_transform(
           generate_series(1, greatest(len(toks) - 3, 0)),
           i -> array_to_string(toks[i:i+3], ' '))) AS grams FROM t),
       bench AS (SELECT DISTINCT unnest(grams) AS bg FROM g WHERE doc_id < 5)
       SELECT doc_id, count(*)::BIGINT AS n_overlap_grams
       FROM (SELECT doc_id, unnest(grams) AS dg FROM g
             WHERE doc_id >= 5$corpusWhere) d
       JOIN bench ON dg = bg GROUP BY doc_id"""

  /** Exact replication of [[graft.functions.Bpe]] merge-loop counting
    * from the SAME bundled merges fixture, plus the regex segment count.
    *
    * Shape: distinct pre-token segments (token counts are additive, so
    * per-doc totals = Σ multiplicity × per-distinct-segment count), then
    * a recursive CTE advancing each segment one merge per iteration:
    * symbols ride as a chr(31)-delimited string, the lowest-rank adjacent
    * pair comes from a map lookup over chr(30)-joined pair keys, and
    * merging ALL occurrences left-to-right is a list_reduce fold (the
    * merged symbol a||b can never equal a, so a merge never chains into
    * itself — making the fold equivalent to the skip-2 scan). Segments
    * with no applicable pair emit once with done=true.
    */
  /** Same closure, surviving docs only (cluster member ≠ min id drops);
    * shared by dedup_near_survivors and dedup_incremental_survivors.
    */
  private lazy val survivorsClosureOracle: String =
    s"""WITH RECURSIVE $minhashPairsSql,
       pr AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE j >= 0.4),
       edges AS (SELECT id_a AS a, id_b AS b FROM pr
                 UNION SELECT id_b, id_a FROM pr),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       losers AS (SELECT a FROM reach GROUP BY a
                  HAVING least(a, min(b)) <> a)
       SELECT doc_id, source FROM documents
       WHERE doc_id NOT IN (SELECT a FROM losers)"""

  /** Transitive closure over the exact-Jaccard ≥0.4 pair set → min-id
    * cluster labels; shared by dedup_clusters (batch rebuild) and
    * dedup_incremental_clusters (persisted-label maintenance).
    */
  private lazy val clustersClosureOracle: String =
    s"""WITH RECURSIVE $minhashPairsSql,
       pr AS MATERIALIZED (SELECT id_a, id_b FROM p WHERE j >= 0.4),
       edges AS (SELECT id_a AS a, id_b AS b FROM pr
                 UNION SELECT id_b, id_a FROM pr),
       reach(a, b) AS (
         SELECT a, b FROM edges
         UNION
         SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       SELECT a AS doc_id, least(a, min(b))::BIGINT AS cluster_id
       FROM reach GROUP BY a"""

  private lazy val bpeOracle: String = bpeReplaySql(
    graft.functions.Bpe.defaultMerges,
    "list_reduce(regexp_split_to_array(g, ''), (x, y) -> x || chr(31) || y)",
    outCol = "n_bpe", withSegments = true)

  /** Byte-level variant: initial symbols are the segment's UTF-8 BYTES
    * through the GPT-2 bytes→unicode mapping ([[graft.functions.Bpe
    * .byteToUnicode]]), rebuilt in SQL — codepoints expand to bytes by
    * the UTF-8 arithmetic, each byte maps via the closed form (printable
    * latin-1 identity; excluded bytes shift to 256+n in byte order).
    */
  private lazy val byteInitExpr: String = {
    val b2u = """CASE WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
                  OR (b >= 174) THEN chr(b)
                WHEN b <= 32 THEN chr(256 + b)
                WHEN b BETWEEN 127 AND 160 THEN chr(289 + b - 127)
                ELSE chr(323) END"""
    s"""list_reduce(
        flatten(list_transform(regexp_split_to_array(g, ''), c ->
          list_transform(
            CASE WHEN unicode(c) < 128 THEN [unicode(c)]
                 WHEN unicode(c) < 2048 THEN
                   [192 + unicode(c) // 64, 128 + unicode(c) % 64]
                 WHEN unicode(c) < 65536 THEN
                   [224 + unicode(c) // 4096, 128 + (unicode(c) // 64) % 64,
                    128 + unicode(c) % 64]
                 ELSE
                   [240 + unicode(c) // 262144, 128 + (unicode(c) // 4096) % 64,
                    128 + (unicode(c) // 64) % 64, 128 + unicode(c) % 64] END,
            b -> $b2u))),
        (x, y) -> x || chr(31) || y)"""
  }

  /** Full-corpus span-dedup replay (8-token block tiling, global first
    * occurrence by (doc_id, bidx), tails kept, reassembly digest); the
    * trailing `docFilter` restricts the OUTPUT rows only — the closure
    * always runs over the whole corpus, which is exactly what the
    * incremental variant must reproduce for the new batch.
    */
  private def spanDedupSql(docFilter: String): String =
    s"""WITH t AS (
         SELECT doc_id,
           CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks
         FROM documents WHERE text IS NOT NULL),
       n AS (SELECT doc_id, toks, len(toks) // 8 AS nb FROM t),
       b AS (SELECT doc_id, toks, unnest(generate_series(0, nb - 1)) AS bidx
             FROM n WHERE nb > 0),
       bb AS (SELECT doc_id, bidx,
                array_to_string(toks[bidx*8 + 1 : bidx*8 + 8], ' ') AS btext
              FROM b),
       f AS (SELECT doc_id, bidx, btext,
               row_number() OVER (PARTITION BY btext ORDER BY doc_id, bidx) AS rn
             FROM bb),
       h AS (SELECT doc_id,
               list(btext ORDER BY bidx) FILTER (WHERE rn = 1) AS blocks
             FROM f GROUP BY doc_id),
       r AS (SELECT n.doc_id,
               -- coalesce: DuckDB array_to_string([]) is NULL, Spark
               -- array_join([]) is '' (doc whose every block dropped)
               coalesce(array_to_string(list_concat(
                 coalesce(h.blocks, []::VARCHAR[]),
                 n.toks[n.nb*8 + 1 : len(n.toks)]), ' '), '') AS text
             FROM n LEFT JOIN h USING (doc_id))
       SELECT d.doc_id, md5(r.text) AS text_digest
       FROM documents d LEFT JOIN r USING (doc_id) $docFilter"""

  private lazy val bpeBytesOracle: String =
    bpeReplaySql(graft.functions.Bpe.defaultByteMerges, byteInitExpr,
      outCol = "n_bpe_bytes", withSegments = false)

  /** Ordered token IDS per doc: the same merge replay, then a vocab
    * lookup per surviving symbol and an in-order flatten across the
    * doc's segments.
    */
  private lazy val bpeIdsOracle: String = {
    val pat = sqlStr(graft.functions.TextFunctions.subwordPattern)
    val vocabVals = graft.functions.Bpe.defaultByteVocab.toSeq.sortBy(_._2)
      .map { case (sym, id) => s"(${sqlStr(sym)},$id)" }.mkString(",")
    s"""WITH RECURSIVE
       ${bpeEncCtes(graft.functions.Bpe.defaultByteMerges, byteInitExpr)},
       v(sym, vid) AS (VALUES $vocabVals),
       vm AS (SELECT map_from_entries(list({'k': sym, 'v': vid})) AS m FROM v),
       segids AS (SELECT e.g,
           list_transform(string_split(e.s, chr(31)), x -> (vm.m[x])[1]) AS ids
         FROM enc e, vm WHERE e.done),
       sm AS (SELECT map_from_entries(list({'k': g, 'v': ids})) AS m FROM segids)
       SELECT d.doc_id,
         CASE WHEN d.text IS NULL THEN NULL
              ELSE flatten(list_transform(
                regexp_extract_all(d.text, $pat), g -> (sm.m[g])[1])) END
           AS token_ids
       FROM documents d, sm"""
  }

  private def bpeReplaySql(mergesFixture: Seq[(String, String)],
      initSymsExpr: String, outCol: String, withSegments: Boolean): String = {
    val pat = sqlStr(graft.functions.TextFunctions.subwordPattern)
    val segCol =
      if (withSegments) s"len(regexp_extract_all(d.text, $pat))::BIGINT AS n_segments,"
      else ""
    s"""WITH RECURSIVE
       ${bpeEncCtes(mergesFixture, initSymsExpr)},
       toks AS (SELECT g, len(string_split(s, chr(31))) AS n FROM enc WHERE done),
       per_doc AS (SELECT doc_id, sum(cnt * n)::BIGINT AS total
                   FROM segc JOIN toks USING (g) GROUP BY doc_id)
       SELECT d.doc_id,
         $segCol
         (CASE WHEN d.text IS NULL THEN NULL
               ELSE coalesce(p.total, 0) END)::BIGINT AS $outCol
       FROM documents d LEFT JOIN per_doc p USING (doc_id)"""
  }

  /** Re-trains byte-level BPE in SQL: `k` UNROLLED training iterations
    * (the merge list is the OUTPUT here, so the fixture-replay recursion
    * doesn't apply). Stage i counts adjacent symbol pairs over the
    * distinct-segment table weighted by corpus frequency (overlaps
    * counted, exactly like the trainers), picks the (count desc, pair
    * asc) argmax, and applies it with the same greedy fold the replay
    * oracles use — `best_i` rides into the lambda via a LEFT JOIN
    * because DuckDB lambdas cannot contain subqueries. Stages are
    * MATERIALIZED: each is read by both the next pair count and the
    * next apply.
    */
  private def bpeTrainOracle(k: Int): String = {
    val pat = sqlStr(graft.functions.TextFunctions.subwordPattern)
    val stages = (0 until k).map { i =>
      s"""p$i AS (
           SELECT u.a AS a, u.b AS b, sum(cnt) AS c
           FROM (SELECT cnt,
                   unnest(list_transform(range(1, len(string_split(s, chr(31)))),
                     j -> {'a': string_split(s, chr(31))[j],
                           'b': string_split(s, chr(31))[j+1]})) AS u
                 FROM s$i)
           GROUP BY 1, 2),
         best$i AS MATERIALIZED (
           SELECT a, b, a || b AS m FROM p$i ORDER BY c DESC, a, b LIMIT 1),
         s${i + 1} AS MATERIALIZED (
           SELECT cnt,
             CASE WHEN bi.a IS NULL THEN s ELSE
               list_reduce(string_split(s, chr(31)), (acc, x) -> CASE
                 WHEN x = bi.b AND (acc = bi.a OR ends_with(acc, chr(31) || bi.a))
                 THEN CASE WHEN acc = bi.a THEN bi.m
                      ELSE left(acc, length(acc) - length(bi.a) - 1)
                           || chr(31) || bi.m END
                 ELSE acc || chr(31) || x END) END AS s
           FROM s$i LEFT JOIN best$i bi ON true)"""
    }.mkString(",\n")
    val out = (0 until k).map(i =>
      s"SELECT $i::INT AS merge_rank, a AS lhs, b AS rhs FROM best$i")
      .mkString(" UNION ALL ")
    s"""WITH sc AS (
         SELECT g, count(*) AS cnt
         FROM (SELECT unnest(regexp_extract_all(text, $pat)) AS g
               FROM documents WHERE text IS NOT NULL)
         GROUP BY g),
       s0 AS MATERIALIZED (SELECT cnt, $byteInitExpr AS s FROM sc),
       $stages
       $out"""
  }

  /** The shared CTE chain of the merge replay: merge rules + rank map,
    * per-doc segment counts, distinct segments, and the recursive `enc`
    * advancing each segment one merge per iteration (see the doc above
    * `bpeOracle`).
    */
  private def bpeEncCtes(mergesFixture: Seq[(String, String)],
      initSymsExpr: String): String = {
    val vals = mergesFixture.zipWithIndex.map {
      case ((a, b), i) => s"(${sqlStr(a)},${sqlStr(b)},$i,${sqlStr(a + b)})"
    }.mkString(",")
    val pat = sqlStr(graft.functions.TextFunctions.subwordPattern)
    s"""m(a, b, r, merged) AS (VALUES $vals),
       mp AS (SELECT map_from_entries(list({'k': a || chr(30) || b, 'v': r})) AS mp FROM m),
       segc AS (
         SELECT doc_id, g, count(*) AS cnt
         FROM (SELECT doc_id, unnest(regexp_extract_all(text, $pat)) AS g
               FROM documents WHERE text IS NOT NULL)
         GROUP BY doc_id, g),
       uniq AS (SELECT DISTINCT g FROM segc),
       enc(g, s, done) AS (
         SELECT g, $initSymsExpr, false
         FROM uniq
         UNION ALL
         SELECT g,
           CASE WHEN best IS NULL THEN s
                ELSE list_reduce(string_split(s, chr(31)), (acc, x) -> CASE
                  WHEN x = m.b AND (acc = m.a OR ends_with(acc, chr(31) || m.a))
                  THEN CASE WHEN acc = m.a THEN m.merged
                       ELSE left(acc, length(acc) - length(m.a) - 1)
                            || chr(31) || m.merged END
                  ELSE acc || chr(31) || x END) END,
           best IS NULL
         FROM (
           SELECT g, s,
             list_min(list_transform(range(1, len(string_split(s, chr(31)))),
               i -> (mp.mp[string_split(s, chr(31))[i] || chr(30)
                     || string_split(s, chr(31))[i+1]])[1])) AS best
           FROM enc, mp WHERE NOT done) e
         LEFT JOIN m ON m.r = e.best)"""
  }

  /** Marker scores per language over padded-lowercase column `p` —
    * shared by the langid and training-data oracles.
    */
  private val langMarkers = Seq(
    "en" -> Seq(" the ", " and ", " of ", " is "),
    "de" -> Seq(" der ", " und ", " die ", " ist "),
    "fr" -> Seq(" le ", " et ", " les ", " est "),
    "es" -> Seq(" el ", " y ", " los ", " es "))

  private def langScoreSql(lang: String): String =
    langMarkers.toMap.apply(lang).map { m =>
      s"((length(p) - length(replace(p, '$m', ''))) / ${m.length})::INT"
    }.mkString(" + ")

  private val langCaseSql: String =
    """CASE
       WHEN greatest(s_en, s_de, s_fr, s_es) <= 0 THEN 'und'
       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
       WHEN s_es = greatest(s_en, s_de, s_fr, s_es) THEN 'es'
       ELSE 'und' END"""

  /** Marker-occurrence language-ID — replicates TextFunctions.langId:
    * counts are (len - len(replace))/len(marker); first language in
    * (en, de, fr, es) order reaching the positive max wins.
    */
  private def langIdOracle: String =
    s"""WITH t AS (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents),
       sc AS (SELECT doc_id, ${langScoreSql("en")} AS s_en, ${langScoreSql("de")} AS s_de,
                ${langScoreSql("fr")} AS s_fr, ${langScoreSql("es")} AS s_es FROM t)
       SELECT doc_id, $langCaseSql AS lang_pred FROM sc"""

  /** The composed training-data chain: same quality/lang/token formulas
    * as the individual oracles, filters, then exact-dedup survivors
    * computed over the FILTERED set (min doc_id per identical text).
    */
  /** The synthetic HTML wrapper (text_html_extract / pipeline_crawl_prep
    * injection) and the RE2-subset extraction chain as SQL fragments —
    * single source for every oracle that replays WebFunctions.htmlToText.
    */
  private lazy val htmlInjectSql: String =
    """'<html><head><title>T</title><style type="text/css">body{color:red}</style>'
       || '<script>if (1 < 2 && x) { alert(''hi''); }</script></head><body>'
       || '<!-- c1 --><h1 class="big">Doc ' || doc_id
       || '</h1><p>' || text
       || '</p><br/>Tom &amp; Jerry &lt;3&nbsp;&quot;q&quot; &#39;s&#39; &amp;lt;keep</body></html>'"""

  private def htmlExtractSql(inner: String): String =
    s"""trim(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace($inner,
          '(?is)<script\\b[^>]*>.*?</script>', ' ', 'g'),
          '(?is)<style\\b[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
          '(?s)<[^>]*>', ' ', 'g'),
          '&nbsp;', ' ', 'g'),
          '&lt;', '<', 'g'),
          '&gt;', '>', 'g'),
          '&quot;', '"', 'g'),
          '&#39;', '''', 'g'),
          '&amp;', '&', 'g'),
        '[ \\t\\r\\n]+', ' ', 'g'))"""

  private def trainingDataOracle: String = trainingDataOracleFrom("documents", "")

  /** [[trainingDataOracle]] parameterized over the (doc_id, text) source
    * relation, with optional leading CTEs — lets pipeline_crawl_prep run
    * the same quality/lang/dedup replay over EXTRACTED text.
    */
  private def trainingDataOracleFrom(sourceRel: String,
      prefixCtes: String): String = {
    val stopRatio =
      s"""CASE WHEN len(toks) = 0 THEN 0.0 ELSE
          len(list_filter(toks, x -> list_contains($stopwordListSql, x)))::DOUBLE
          / len(toks)::DOUBLE END"""
    val punctRatio =
      """CASE WHEN length(text) = 0 THEN 0.0 ELSE
         (length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]-]', '', 'g')))::DOUBLE
         / length(text)::DOUBLE END"""
    s"""WITH ${prefixCtes}t AS (SELECT doc_id, text,
          CASE WHEN trim(text) = '' THEN []::VARCHAR[]
               ELSE regexp_split_to_array(lower(trim(text)), '\\s+') END AS toks,
          ' ' || lower(text) || ' ' AS p
        FROM (SELECT doc_id, nfc_normalize(text) AS text FROM $sourceRel)),
      sc AS (SELECT doc_id, text, toks,
          ${langScoreSql("en")} AS s_en, ${langScoreSql("de")} AS s_de,
          ${langScoreSql("fr")} AS s_fr, ${langScoreSql("es")} AS s_es FROM t),
      ann AS (SELECT doc_id, text,
          round(
            least(length(text)::DOUBLE / 500.0, 1.0) * 0.4
            + least(($stopRatio) * 4.0, 1.0) * 0.4
            + greatest(1.0 - ($punctRatio) * 5.0, 0.0) * 0.2, 6) AS quality,
          $langCaseSql AS lang,
          len(toks)::BIGINT AS n_tokens
        FROM sc),
      kept AS (SELECT * FROM ann
        WHERE quality >= 0.5 AND lang IN ('en') AND n_tokens >= 10)
      SELECT doc_id, quality, lang, n_tokens FROM kept
      WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY text)"""
  }
}
