package graft

import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Physical-plan shape assertions — the 100 TB story is only real if the
  * plans are right: filters reach the scan, small sides broadcast, top-k
  * never global-sorts, aggregates combine map-side.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push into the parquet scan") {
    val df = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") > 30.0)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    p should include("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]")
    p should include("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>")
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val p = plan(SparkEntry.queries("q_regional_revenue")(spark, dir))
    p should include("BroadcastHashJoin")
  }

  test("orderBy().limit() plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(SparkEntry.queries("q_top_revenue")(spark, dir))
    p should include("TakeOrderedAndProject")
  }

  test("aggregation runs partial (map-side combine) before the exchange") {
    val p = plan(Tables.lineitem(spark, dir)
      .groupBy("l_returnflag").agg(sum("l_quantity")))
    p should include("partial_sum")
    p should include("HashAggregate")
  }

  test("the compiled pipeline chain is one narrow projection — no shuffle") {
    import graft.pipeline.{Pipeline, Processors, Step}
    val routed = Pipeline(Seq(Step(Processors.capitalize),
      Step(Processors.add10), Step(Processors.isEven)))(Tables.messages(spark, dir))
    val p = plan(routed.df)
    p should not include "Exchange"
  }

  test("batched BM25 probe partition-prunes and broadcasts the query terms") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val idx = java.nio.file.Files.createTempDirectory("bm25plan").toString
    graft.operators.TrainingData.bm25IndexWrite(docs, "doc_id", "text", idx)
    val queries = Seq(("a", "spark vector"), ("b", "hash join"))
      .toDF("qid", "qtext")
    val p = plan(graft.operators.TrainingData.bm25TopKJoin(
      spark, idx, queries, "qid", "qtext", "doc_id", k = 5))
    // the posting scan reads ONLY the query terms' buckets (the bounded
    // collected bucket list is a static pruning literal) and the small
    // (qid, term) side broadcasts — nothing corpus-sized shuffles to
    // match queries against postings
    p should include("PartitionFilters")
    p should include("tb")
    p should include("BroadcastHashJoin")
  }

  test("per-doc text analytics stay in the scan projection — no shuffle") {
    // repetition metrics and the PII scrub are pure column chains; at
    // 100 TB they must ride the scan, not cost a stage
    val rep = plan(SparkEntry.queries("text_repetition")(spark, dir))
    rep should not include "Exchange"
    val pii = plan(SparkEntry.queries("text_pii")(spark, dir))
    pii should not include "Exchange"
  }

  test("boilerplate scoring computes grams once and combines map-side") {
    val p = plan(SparkEntry.queries("text_boilerplate")(spark, dir))
    // the gram build feeds two consumers from a checkpoint, not two scans
    p should not include "FileScan parquet"
    p should include("Scan ExistingRDD")
    p should include("partial_count")
  }

  test("line dedup picks first occurrences map-side (partial min, no window)") {
    // the first-occurrence choice must combine before the exchange: a
    // line duplicated N times shuffles one candidate per partition
    val p = plan(SparkEntry.queries("text_line_dedup")(spark, dir))
    p should include("partial_min")
    p should not include "Window"
    // the first-occurrence shuffle keys on the fixed-width line digest
    // (md5 prefix), never the raw line text — key width stays bounded at
    // any line length — and the join back is a SEMI join on the unique
    // (id, pos) pair, so no corpus-wide hot line can concentrate on one
    // reducer (skew-immune by construction; AQE's OptimizeSkewedJoin
    // could not rescue a digest-keyed join back because the build side
    // is an aggregation output, not a bare shuffle stage)
    p should include("LeftSemi")
    p should not include "hashpartitioning(line"
    p should include("md5")
  }

  test("line dedup handles a corpus dominated by one hot line without a hot key") {
    import spark.implicits._
    // adversarial corpus: ONE line dominates every doc. The old
    // line-keyed join back would send every occurrence to one reducer;
    // the (id, pos) semi join spreads them uniformly.
    val hotLine = "hot boilerplate navigation chrome line " +
      "that repeats in every single document of the corpus"
    val hot = Array.fill(30)(hotLine).mkString("\n")
    val docs = (1L to 3000L)
      .map(i => (i, s"$hot\nunique content line $i"))
      .toDF("doc_id", "text").repartition(8)
    val out = graft.operators.TrainingData.dedupLines(docs, "doc_id", "text")
    val got = out.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // even doc 1's own 30 copies dedup to the single first occurrence
    got(1L) shouldBe Some(hotLine + "\nunique content line 1")
    (2L to 3000L).foreach(i => got(i) shouldBe Some(s"unique content line $i"))
    // the join-back stages must never key on the hot line's digest: the
    // final plan's semi join reads both sides partitioned by (id, pos)
    val p = out.queryExecution.executedPlan.toString
    p should include("LeftSemi")
  }

  test("span dedup: digest-keyed partial min, semi join back, no window") {
    // same scale contract as line dedup, at block granularity: the
    // first-occurrence agg combines map-side over fixed-width md5 block
    // keys (a block duplicated N times shuffles one candidate per
    // partition), and the join back is SEMI on unique (id, bidx) — a
    // corpus-wide hot block (license header in every doc) cannot
    // concentrate on one reducer
    val p = plan(SparkEntry.queries("text_span_dedup")(spark, dir))
    p should include("partial_min")
    p should not include "Window"
    p should include("LeftSemi")
    p should not include "hashpartitioning(__btext"
    p should include("md5")
  }

  test("bigram LM: corpus totals broadcast, doc stream joins bigram table once") {
    // the 2-row corpus total rides a BroadcastNestedLoopJoin (broadcast
    // cross join), never a shuffle; the per-doc score is a partial-avg
    // hash aggregate, not a window
    val p = plan(SparkEntry.queries("text_bigram_logprob")(spark, dir))
    p should include("BroadcastNestedLoopJoin")
    p should not include "Window"
    p should include("partial_avg")
  }

  test("grouped exact quantile has no per-group window (no WindowExec)") {
    // Window.partitionBy(group) would put each ENTIRE group through one
    // task — parallelism = |groups| regardless of data size. The rewrite
    // range-sorts on (group, value) instead; no window operator at all.
    val p = plan(SparkEntry.queries("q_percentile_grouped")(spark, dir))
    p should not include "Window"
  }

  test("partition-column filters prune directories before reading files") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString + "/events"
    Tables.writePartitioned(Tables.events(spark, dir), out, Seq("event_type"))
    val scan = spark.read.parquet(out).filter(col("event_type") === "purchase")
    val p = plan(scan)
    p should include("PartitionFilters")
    p should include("isnotnull(event_type")
    scan.count() should be > 0L
    // pruned scan reads only the one partition directory
    scan.select(countDistinct("event_type")).head().getLong(0) shouldBe 1L
  }

  test("bloom decontamination: confirm join is NOT broadcast above the gate") {
    // the operator exists for benchmark sets too big to broadcast raw —
    // forcing broadcast(benchGrams) would re-create exactly that OOM.
    // Above the auto-broadcast threshold the confirm must be a shuffle
    // join (cheap: the bloom already shrank the probe side), and the
    // answer must still equal the exact path.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "64") // bytes
    val docs = Tables.documents(s2, dir)
    val bloom = graft.operators.TrainingData.decontaminateBloom(
      docs.filter(col("doc_id") >= 5), "doc_id", "text",
      docs.filter(col("doc_id") < 5), "text", n = 4)
    val p = bloom.queryExecution.executedPlan.toString
    p should not include "BroadcastHashJoin"
    val exact = graft.operators.TrainingData.decontaminate(
      docs.filter(col("doc_id") >= 5), "doc_id", "text",
      docs.filter(col("doc_id") < 5), "text", n = 4)
    bloom.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe
      exact.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // below the gate (default session threshold) the hint still applies
    val hinted = graft.operators.TrainingData.decontaminateBloom(
      Tables.documents(spark, dir).filter(col("doc_id") >= 5), "doc_id", "text",
      Tables.documents(spark, dir).filter(col("doc_id") < 5), "text", n = 4)
    hinted.queryExecution.executedPlan.toString should include("BroadcastHashJoin")
  }

  test("DSIR scoring: bucket-bounded model broadcasts, doc agg combines map-side") {
    // the log-ratio model is ≤ numBuckets rows — it must reach the
    // feature stream as a broadcast, never a shuffle join; the per-doc
    // weight sum must run partial before its exchange
    val p = plan(SparkEntry.queries("sample_dsir")(spark, dir))
    p should include("BroadcastHashJoin")
    p should include("partial_sum")
    // the only sort-merge allowed is the doc-keyed featureless-doc
    // restore (corpus × corpus — correctly a shuffle join at scale);
    // the model join itself must never appear as one
    p.split("SortMergeJoin").length should be <= 2
  }

  test("N-step funnel: no Window, every step aggregate combines map-side") {
    // the funnel is iterated user-keyed min-aggs + joins by design —
    // a per-user window would sort every user's whole event history
    val p = plan(SparkEntry.queries("q_funnel_n")(spark, dir))
    p should not include "Window"
    p should include("partial_min")
  }

  test("key-skew diagnostic: window-free, top-N as TakeOrderedAndProject, partial counts") {
    val p = plan(SparkEntry.queries("q_key_skew")(spark, dir))
    p should not include "Window"
    p should include("TakeOrderedAndProject")
    p should include("partial_count")
  }

  test("wordpiece encode is one narrow projection over the scan — no shuffle") {
    val docs = Tables.documents(spark, dir)
    val (sv, cv) = graft.operators.WordPieceTokenizer.seedVocab(
      docs, "text", maxPieceLen = 4, vocabSize = 50)
    val p = plan(graft.operators.WordPieceTokenizer.encode(
      docs, "doc_id", "text", sv, cv))
    p should not include "Exchange"
  }

  test("kmeans assignment round is a projection + one partial aggregation") {
    // the per-round reassignment must not shuffle the corpus: k cosines
    // against centroid literals in the scan projection, then ONE
    // map-side-combined centroid agg
    val assigned = graft.operators.Embeddings.kmeans(
      Tables.embeddings(spark, dir), "vec_id", "embedding",
      dim = 64, k = 4, iters = 1)
    val p = plan(assigned)
    // final output: assignment over the checkpointed base — pure projection
    p should not include "Exchange"
  }

  test("k-center traversal round folds ONE new sqDist into the carried __dmin") {
    // O(t·N) contract: round r scores the single NEW center against the
    // carried running min, never re-scores the r-1 prior centers. One
    // sqDist = ONE native SqDistDouble node in the plan; and the round
    // is a pure projection (the farthest-point read on top is a
    // TakeOrderedAndProject of one row).
    val scored = Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("__id"),
        col("embedding").cast("array<double>").as("__v"),
        lit(0.0).as("__dmin"))
    val p = plan(graft.operators.Sampling.kCenterRound(scored, Seq.fill(64)(0.5)))
    "(?i)sqdistdouble".r.findAllMatchIn(p).size shouldBe 1
    p should not include "Exchange"
  }

  test("k-center assignment is a pure projection over the checkpointed base — no shuffle") {
    val assigned = graft.operators.Sampling.kCenterSelect(
      Tables.embeddings(spark, dir), "vec_id", "embedding", t = 4)
    // the traversal's per-round farthest-point reads are
    // TakeOrderedAndProject jobs (driver reads of ONE row each); the
    // returned assignment itself must not shuffle anything
    plan(assigned) should not include "Exchange"
  }

  test("PQ encode is one projection — no shuffle, no join in the encode plan") {
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.Embeddings.pqTrain(
      emb, "vec_id", "embedding", dim = 64, m = 8, k = 16, iters = 1)
    val enc = graft.operators.Embeddings.pqEncode(
      emb, "vec_id", "embedding", model)
    val p = plan(enc)
    p should not include "Exchange"
    p should not include "Join"
  }

  test("filtered ANN probe: the row predicate reaches the pruned cell scan") {
    // rowFilter must not be a post-top-k afterthought: a plain column
    // predicate lands in the parquet scan's pushed filters, UNDER the
    // partition-pruned cell directories — the probe reads only matching
    // rows of probed cells, then top-k's the survivors
    val idx = java.nio.file.Files.createTempDirectory("graft-filtplan").toString
    val emb = Tables.embeddings(spark, dir)
    graft.operators.Similarity.ivfWriteIndexSQ8(
      emb, "vec_id", "embedding", dim = 64, path = idx, nBits = 2,
      lloydIters = 0)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val p = plan(graft.operators.Similarity.ivfTopKFromIndexSQ8(
      spark, idx, "vec_id", q, k = 2, nProbe = 1,
      rowFilter = _.filter(col("vec_id") < 100)))
    p should include("PartitionFilters")
    p should include("PushedFilters")
    p should include("LessThan(vec_id,100)")
    p should include("TakeOrderedAndProject")
  }

  test("bucketed tables co-locate the join: no Exchange in the joined plan") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    Tables.orders(s2, dir).write.mode("overwrite")
      .bucketBy(4, "o_custkey").sortBy("o_custkey")
      .option("path", s"$wh/orders_b").saveAsTable("orders_b")
    Tables.customer(s2, dir).write.mode("overwrite")
      .bucketBy(4, "c_custkey").sortBy("c_custkey")
      .option("path", s"$wh/customer_b").saveAsTable("customer_b")
    val joined = s2.table("orders_b")
      .join(s2.table("customer_b"), col("o_custkey") === col("c_custkey"))
    val p = joined.queryExecution.executedPlan.toString
    p should not include "Exchange"
    joined.count() should be > 0L
  }

  test("decodeAndRoute: decode and encode compile whole-stage; one observation, one aggregate per counter") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{CollectMetricsExec, InputAdapter, ProjectExec,
      SparkPlan, WholeStageCodegenExec}
    import graft.codec.ConfluentAvro
    import graft.pipeline.PipelineDef
    val wire = spark.range(1000).select(ConfluentAvro.toConfluentAvro(
      struct(col("id").cast("string").as("key"), col("id").cast("string").as("value"),
        col("id").cast("int").as("num")), ConfluentAvro.eventSchemaJson, 1).as("value"))
      .localCheckpoint()
    val spec = PipelineDef(1, "p", "in", "target", "event", "event",
      Seq("parseNum", "capitalize", "add10", "isEven"), Seq(Some("dlq_parse"), None, None, None))
    val routed = PipelineRunner.decodeAndRoute(wire, spec,
      ConfluentAvro.eventSchemaJson, ConfluentAvro.eventSchemaJson, 1)
    val plan = routed.queryExecution.executedPlan

    // the operators each whole-stage pass compiles, up to its inputs
    def inStage(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(inStage)
    }
    val compiled = plan.collect { case w: WholeStageCodegenExec => inStage(w.child) }.flatten
    // nothing compiled falls back to interpreted eval (the observation's
    // precompiled aggregates run in its accumulator, outside the passes)
    compiled.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e })) shouldBe empty
    val codegenProjects = compiled.collect { case p: ProjectExec => p }
    def projecting(cls: Class[_]) = plan.collect {
      case p: ProjectExec if p.projectList.exists(_.exists(e => cls.isInstance(e))) => p
    }
    Seq(classOf[ConfluentAvro.ConfluentAvroDecode], classOf[ConfluentAvro.ConfluentAvroEncode])
      .foreach { cls =>
        withClue(s"${cls.getSimpleName}: ") {
          projecting(cls) should not be empty
          projecting(cls).foreach(p => codegenProjects.exists(_ eq p) shouldBe true)
        }
      }
    // the decode guard counts into the chain's observation: no second one
    val observations = plan.collect { case c: CollectMetricsExec => c }
    observations.map(_.name) shouldBe Seq("pipeline_metrics")
    // the accumulator gives every aggregate occurrence its own slot, so
    // each counter is at most one occurrence and a constant counter none
    val counters = observations.head.metricExpressions
    counters should have size (6 + 3 * spec.processors.size)
    val aggregates = counters.map(_.collect { case a: AggregateExpression => a }.size)
    aggregates.foreach(_ should be <= 1)
    // received, applied, completed, dlq, dropped, error, 4 rows_in,
    // 3 map-step errors and 1 filter-step drops
    aggregates.sum shouldBe 14
    routed.count() shouldBe 500 // the even nums reach the target
  }
}
