package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Frames

/** The corpus-level takedown orchestrator: ONE entry point —
  * [[forget]] — that applies a takedown request ("these ids must stop
  * influencing everything") to EVERY registered persisted store,
  * through each store family's existing delete/unlearning face.
  *
  * Why this exists: the engine has ~17 per-store deletion faces
  * (tombstone channels, count-form unlearning, label re-closure,
  * triangle-index edge deletes, ...), and a real takedown request is
  * global — the caller should not need to know the store zoo, and
  * MISSING one store is a silently incomplete takedown, the exact
  * failure class the per-store faces were each hardened against
  * individually. The orchestrator makes the surface a DATA STRUCTURE
  * ([[kinds]]) instead of tribal knowledge, and
  * `TakedownSurfaceSpec` machine-checks that every store-writing face
  * in the operator sources has a registry row (or a documented
  * rebuild-only contract in [[rebuildOnly]]) — adding a new persisted
  * store without a takedown story fails a test, not a review.
  *
  * Semantics: [[forget]] resolves and validates EVERYTHING up front
  * (unknown kinds, missing victim columns) before touching ANY store;
  * then attempts EVERY store even when one fails (so one broken store
  * cannot silently leave the rest holding the victims), reports
  * per-store outcomes, and — unless `bestEffort` — throws when any
  * store failed, listing them. Every underlying face tolerates
  * re-delivery (double-deletes are no-ops by each store's contract),
  * so the recovery for a partial failure is: fix the cause, re-run the
  * same `forget`.
  *
  * Scale shape: the victim frame is request-sized (bounded); it is
  * materialized ONCE and every face runs its own O(victim-size)
  * staged write (tombstones / negative deltas / corrections). Nothing
  * corpus-partitioned is rewritten at forget time except the `table`
  * kind, whose [[graft.tables.Tables.deleteMatching]] rewrites only
  * victim-touched partitions. Physical removal everywhere else stays
  * with each store's compaction face.
  *
  * The reference has no analog (its pipeline is stateless per-message
  * transforms); this is the LLM-training-data governance surface
  * layered on top.
  */
object Takedown {

  /** One persisted store in a pipeline's takedown surface. `kind`
    * selects the delete face from [[kinds]]; `path` is the store root;
    * `opts` carries kind-specific extras:
    *
    *  - every kind accepts `idCol` — the STORE's id column name, when
    *    it differs from the victim frame's (e.g. an IVF index built on
    *    `vec_id` while the request carries `id`);
    *  - `cluster_state`: `indexPath` / `pairsPath` / `labelsPath`
    *    (default `<path>/index`, `<path>/pairs`, `<path>/labels`);
    *  - `table`: `partitionCol` (required — the Hive partition column
    *    [[graft.tables.Tables.deleteMatching]] prunes on).
    */
  final case class Store(kind: String, path: String,
      opts: Map[String, String] = Map.empty)

  /** A registered store FAMILY: its victim shape (`"ids"` — an id
    * column suffices; `"id_text"` — the exact ingested text must ride
    * along, the count-form stores' drift-guard contract), the write
    * faces that create/extend stores of the family (the machine-checked
    * takedown-surface map), the delete face's name (for reporting), and
    * the invocation itself — called with the victims already renamed to
    * the store's id column, that column's name, the text column and the
    * store.
    */
  final case class Kind(name: String, victimShape: String,
      writeFaces: Seq[String], deleteFace: String,
      invoke: (DataFrame, String, String, Store) => Unit,
      compact: Option[(SparkSession, Store) => Unit] = None,
      // AUDIT probe: the ids that still influence this store's read
      // faces, as one `id` column (lazily corpus-sized — [[audit]]
      // semi-joins it against the bounded request). REQUIRED, no
      // default: a kind registered without a probe would pass
      // validation and surface only as a runtime NPE inside audit() —
      // a probe-less kind must fail at registration (compile time),
      // the statically-knowable-misconfiguration principle.
      present: (SparkSession, String, Store) => DataFrame,
      // opts keys a Store of this kind MUST carry — validated by every
      // entry point BEFORE any store is touched (a statically-knowable
      // misconfiguration must not mutate half the surface first)
      requiredOpts: Seq[String] = Nil)

  // shared upfront validation: unknown kinds, missing required opts,
  // and the empty registry all refuse BEFORE any store is touched —
  // an empty list in particular must not let forget/audit/compactAll
  // vacuously "succeed" over nothing (a silently incomplete takedown,
  // or worse, a vacuous proof)
  private def validateStores(face: String, stores: Seq[Store]): Unit = {
    require(stores.nonEmpty,
      s"Takedown.$face: no stores registered — an empty registry would " +
      "silently cover nothing; list every persisted store of the " +
      "pipeline (the point of the orchestrator is that missing one is " +
      "an incomplete takedown)")
    val unknown = stores.map(_.kind).distinct.filterNot(kinds.contains)
    require(unknown.isEmpty,
      s"Takedown.$face: unknown store kind(s) ${unknown.mkString(", ")} " +
      s"— registered kinds: ${kinds.keys.toSeq.sorted.mkString(", ")}. " +
      "Refusing to run: an unregistered store would be silently " +
      "skipped, an incomplete takedown.")
    val missing = stores.flatMap { st =>
      kinds(st.kind).requiredOpts.filterNot(st.opts.contains)
        .map(o => s"${st.kind} @ ${st.path} needs opts(\"$o\")")
    }
    require(missing.isEmpty,
      s"Takedown.$face: ${missing.mkString("; ")} — required options " +
      "are validated up front so a misconfigured store cannot fail " +
      "AFTER the rest of the surface already mutated.")
    // the concurrent walk's independence contract, enforced: two store
    // entries naming the SAME root (or a cluster_state sub-path another
    // entry also names) used to be a harmless re-delivery when the walk
    // was sequential — concurrent, they race the same _MAINT/batch
    // directories (nextBatchN is list-max+1, not atomic) and can clobber
    // each other's staged writes mid-flight. Statically knowable, so it
    // refuses here, before any store mutates. Roots are NORMALIZED
    // before comparison — scheme-less paths resolve absolute with
    // `.`/`..`/double-slash segments collapsed (java.nio), URI-schemed
    // paths through hadoop Path's component normalization — so
    // syntactic aliases of one directory ('a//b', './a', a relative
    // form of an absolute root) cannot evade the checks. SYMLINK
    // aliases remain a documented limitation: resolving them needs
    // filesystem I/O at validation time, and the store filesystems
    // (HDFS/object stores) mostly don't have them.
    def norm(p: String): String = {
      val t = p.trim.stripSuffix("/")
      // scheme detection by URI parse, not a "://" scan: hadoop accepts
      // single-slash URIs ("file:/tmp/x"), which a substring test would
      // misroute into the local branch as a relative path. `file`-scheme
      // roots collapse onto the plain-local form so "file:///tmp/x" and
      // "/tmp/x" cannot slip past the duplicate check as distinct keys.
      val scheme = scala.util.Try(new java.net.URI(t)).toOption
        .flatMap(u => Option(u.getScheme))
      scheme match {
        case Some("file") => java.nio.file.Paths.get(
            new org.apache.hadoop.fs.Path(t).toUri.getPath)
          .toAbsolutePath.normalize.toString
        case Some(_) =>
          new org.apache.hadoop.fs.Path(t).toUri.normalize.toString
            .stripSuffix("/")
        case None =>
          java.nio.file.Paths.get(t).toAbsolutePath.normalize.toString
      }
    }
    // (storeIndex, root): cluster_state contributes its root PLUS the
    // three sub-paths — st.path stays a guarded prefix even when all
    // three opts point elsewhere (a future face reading the root
    // directly must not silently share it with another store). The
    // index keys the nested check to DIFFERENT stores only: a
    // cluster_state's own sub-paths nest inside its root by design.
    val roots: Seq[(Int, String)] = stores.zipWithIndex.flatMap {
      case (st, i) =>
        (if (st.kind == "cluster_state") {
          val (ip, pp, lp) = clusterPaths(st)
          Seq(st.path, ip, pp, lp)
        } else Seq(st.path)).map(p => i -> norm(p))
    }
    val dup = roots.map(_._2).groupBy(identity)
      .collect { case (p, xs) if xs.size > 1 => p }
    require(dup.isEmpty,
      s"Takedown.$face: store root(s) listed more than once: " +
      s"${dup.toSeq.sorted.mkString(", ")} — stores walk CONCURRENTLY " +
      "and must be independent; deduplicate the registry (re-delivery " +
      "is only safe sequentially).")
    // NESTED roots are the same class of misconfiguration one level up:
    // every kind reads its root (or subdirs of it) with
    // spark.read.parquet, so a store living INSIDE another store's root
    // pollutes the outer store's scans and layout (a table kind would
    // sweep the inner store's files into its rewrite). O(n²) over a
    // registry of dozens — negligible.
    val nested = for {
      (ia, a) <- roots; (ib, b) <- roots
      if ia != ib && b.startsWith(a + "/")
    } yield s"$b sits inside $a"
    require(nested.isEmpty,
      s"Takedown.$face: nested store roots: ${nested.sorted.mkString("; ")}" +
      " — every store's root must be disjoint from every other's " +
      "(stores read their roots recursively; nesting corrupts the " +
      "outer store's scans and rewrites).")
  }

  // a cluster_state store's three tables (opts, defaulting under its root)
  private def clusterPaths(st: Store): (String, String, String) = (
    st.opts.getOrElse("indexPath", s"${st.path}/index"),
    st.opts.getOrElse("pairsPath", s"${st.path}/pairs"),
    st.opts.getOrElse("labelsPath", s"${st.path}/labels"))

  /** The registry: every persisted store family and its delete face.
    * One row per family — the complete takedown surface as code.
    */
  val kinds: Map[String, Kind] = Seq(
    Kind("ivf", "ids",
      Seq("ivfWriteIndex", "ivfWriteIndexSQ8", "ivfWriteIndexPQ",
        "ivfWriteLayout", "ivfAppend", "ivfAppendSQ8", "ivfAppendPQ",
        "continuousIvfAppend", "continuousPqAppend"),
      "Similarity.ivfDelete",
      (v, sid, _, st) => Similarity.ivfDelete(v, sid, st.path),
      Some((sp, st) => graft.streaming.StreamingOps.compactIvfDeltas(
        sp, st.path, includeLatest =
          st.opts.get("includeLatest").exists(_.toBoolean))),
      present = (sp, idCol, st) => Similarity.ivfPresentIds(sp, st.path,
        st.opts.getOrElse("idCol", idCol))),
    Kind("bm25", "ids",
      Seq("bm25IndexWrite", "bm25IndexAppend"),
      "TrainingData.bm25IndexDelete",
      (v, sid, _, st) => TrainingData.bm25IndexDelete(v, sid, st.path),
      Some((sp, st) => TrainingData.bm25IndexCompact(sp, st.path)),
      present = (sp, _, st) => TrainingData.bm25PresentIds(sp, st.path)),
    Kind("jaccard_prefix", "ids",
      Seq("jaccardPrefixIndexWrite", "jaccardPrefixIndexAppend"),
      "Dedup.jaccardPrefixIndexDelete",
      (v, sid, _, st) => Dedup.jaccardPrefixIndexDelete(v, sid, st.path),
      Some((sp, st) => Dedup.jaccardPrefixIndexCompact(sp, st.path)),
      present = (sp, _, st) => Dedup.jaccardPrefixPresentIds(sp, st.path)),
    Kind("decontam", "ids",
      Seq("decontamIndexWrite", "decontamIndexAppend"),
      "TrainingData.decontamIndexDelete",
      (v, sid, _, st) => TrainingData.decontamIndexDelete(v, sid, st.path),
      Some((sp, st) => TrainingData.decontamIndexCompact(sp, st.path)),
      present = (sp, _, st) => TrainingData.decontamPresentIds(sp, st.path)),
    Kind("containment", "ids",
      Seq("containmentIndexWrite", "containmentIndexAppend"),
      "TrainingData.containmentIndexDelete",
      (v, sid, _, st) => TrainingData.containmentIndexDelete(v, sid, st.path),
      Some((sp, st) => TrainingData.containmentIndexCompact(sp, st.path)),
      present = (sp, _, st) => TrainingData.decontamPresentIds(sp, st.path)),
    Kind("nb_model", "id_text",
      Seq("nbModelWrite", "nbModelAppend", "nbModelAppendStream"),
      "Classifier.nbModelDelete",
      (v, sid, textCol, st) =>
        Classifier.nbModelDelete(v, sid, textCol, st.path),
      Some((sp, st) => Classifier.nbModelCompact(sp, st.path)),
      present = (sp, _, st) => Classifier.nbModelPresentIds(sp, st.path)),
    Kind("dsir", "id_text",
      Seq("dsirStoreWrite", "dsirStoreAppend", "dsirStoreAppendStream"),
      "Sampling.dsirStoreDelete",
      (v, sid, textCol, st) =>
        Sampling.dsirStoreDelete(v, sid, textCol, st.path),
      Some((sp, st) => Sampling.dsirStoreCompact(sp, st.path)),
      present = (sp, _, st) => Sampling.dsirStorePresentIds(sp, st.path)),
    Kind("triangles", "ids",
      Seq("trianglesIndexWrite", "trianglesIndexAppend"),
      "Graph.trianglesIndexDeleteNodes",
      (v, sid, _, st) => Graph.trianglesIndexDeleteNodes(v, sid, st.path),
      Some((sp, st) => Graph.trianglesIndexCompact(sp, st.path)),
      present = (sp, _, st) => Graph.trianglesPresentNodes(sp, st.path)),
    Kind("cluster_state", "ids",
      Seq.empty, // stream-maintained (continuousClusteredDedup)
      "StreamingOps.clusterStateDelete",
      (v, sid, _, st) => {
        val (ip, pp, lp) = clusterPaths(st)
        graft.streaming.StreamingOps.clusterStateDelete(v, sid, ip, pp, lp)
      },
      Some((sp, st) => {
        val (ip, pp, lp) = clusterPaths(st)
        graft.streaming.StreamingOps.compactClusterState(sp, ip, pp, lp,
          includeLatest = st.opts.get("includeLatest").exists(_.toBoolean))
      }),
      present = (sp, _, st) => {
        val (ip, pp, lp) = clusterPaths(st)
        graft.streaming.StreamingOps.clusterStatePresentIds(sp, ip, pp, lp)
      }),
    Kind("cdc_state", "ids",
      Seq.empty, // stream-maintained (continuousCdcDedup)
      "StreamingOps.cdcStateDelete",
      (v, sid, _, st) =>
        graft.streaming.StreamingOps.cdcStateDelete(v, sid, st.path),
      Some((sp, st) => graft.streaming.StreamingOps.compactCdcIndex(sp,
        st.path, includeLatest =
          st.opts.get("includeLatest").exists(_.toBoolean))),
      present = (sp, _, st) => graft.streaming.StreamingOps.cdcStatePresentIds(sp, st.path)),
    Kind("kmeans_model", "ids",
      Seq("kmeansModelWrite"),
      "Embeddings.kmeansModelDelete",
      (v, sid, _, st) => Embeddings.kmeansModelDelete(v, sid, st.path),
      // compact = RETRAIN over the manifest survivors: the one provable
      // removal path for an aggregate model (forget only fences +
      // tombstones — O(victim), like every other kind's delete face)
      Some((sp, st) => Embeddings.kmeansModelCompact(sp, st.path,
        takeover = st.opts.get("takeover").exists(_.toBoolean))),
      present = (sp, _, st) => Embeddings.kmeansModelPresentIds(sp, st.path)),
    Kind("pq_model", "ids",
      Seq("pqModelWrite"),
      "Embeddings.pqModelDelete",
      (v, sid, _, st) => Embeddings.pqModelDelete(v, sid, st.path),
      // same fence/tombstone → retrain-at-compact protocol as
      // kmeans_model (one ModelStore implementation behind both)
      Some((sp, st) => Embeddings.pqModelCompact(sp, st.path,
        takeover = st.opts.get("takeover").exists(_.toBoolean))),
      present = (sp, _, st) => Embeddings.pqModelPresentIds(sp, st.path)),
    Kind("table", "ids",
      Seq("writePartitioned", "writeClustered", "writeZOrdered",
        "writeZOrderedN"),
      "Tables.deleteMatching",
      (v, sid, _, st) => {
        val pcol = st.opts.getOrElse("partitionCol",
          throw new IllegalArgumentException(
            "table kind requires opts(\"partitionCol\") — the Hive " +
            "partition column deleteMatching prunes its rewrite to"))
        // join-based delete: the victim frame reaches the rewrite as a
        // semi/anti join (broadcast-hinted only below the session's
        // broadcast threshold; shuffled beyond it) — a million-id
        // request stays a three-join plan, never a driver collect or
        // an `isin` literal
        graft.tables.Tables.deleteMatching(v.sparkSession, st.path,
          pcol, v.select(col(sid)), sid)
        ()
      },
      present = (sp, idCol, st) => sp.read.parquet(st.path)
        .select(col(st.opts.getOrElse("idCol", idCol)).as("id")),
      requiredOpts = Seq("partitionCol"))
  ).map(k => k.name -> k).toMap

  /** Write faces that create DERIVED artifacts with no in-place delete
    * face — their documented takedown contract is REGENERATE from the
    * surviving corpus. `TakedownSurfaceSpec` holds every store-writing
    * face in the operator sources to either a [[kinds]] `writeFaces`
    * row or an entry here, so the map cannot silently go stale.
    */
  val rebuildOnly: Map[String, String] = Map(
    "writeTokenShards" ->
      ("packed training-data shards: a derived artifact with no probe " +
       "state to correct — regenerate from the surviving corpus " +
       "(writeTokenShards over documents-minus-victims)"),
    "writeBase" ->
      ("CountStore's internal protocol face — reachable only through " +
       "nbModelWrite / dsirStoreWrite, which the nb_model / dsir kinds " +
       "cover"),
    "writeBatch" ->
      ("BatchState's internal protocol face: the per-batch write of the " +
       "StreamingOps continuous* stream stores and their compactions — " +
       "reachable only through those faces, whose takedown-bearing " +
       "state the cluster_state / cdc_state kinds cover"))

  /** Takedown contract for MODEL ARTIFACTS the USER persists (the
    * train-offline / score-online faces whose scaladoc invites
    * `model.write.parquet(...)`): a k-means codebook or a frozen-model
    * index trained on victims is victim INFLUENCE, but it lives outside
    * the engine's write faces, so no [[kinds]] row can see it — the
    * orchestrator cannot delete from, audit, or compact what it never
    * wrote. The contract is RETRAIN OVER SURVIVORS: after a takedown,
    * re-run the train face on the surviving corpus and replace the
    * persisted artifact (then regenerate anything derived from it).
    * Centroids are many-to-one aggregates, so no in-place correction
    * can prove removal the way the count-form stores can — retraining
    * is the only provable path. `TakedownSurfaceSpec` pins each face
    * listed here to a scaladoc that names this contract, and pins the
    * list itself against the sources.
    */
  val userPersisted: Map[String, String] = Map(
    "kmeansTrain" ->
      ("persisted k-means model (k centroid rows): retrain over the " +
       "surviving corpus and replace; re-assign any stored cluster ids " +
       "derived from the old model — or persist through " +
       "kmeansModelWrite instead, whose registered kmeans_model kind " +
       "gives the orchestrator a training manifest to probe, a fence " +
       "against serving the stale model, and retrain-at-compact"),
    "pqTrain" ->
      ("persisted PQ codebooks (m·k centroid rows): retrain over the " +
       "surviving corpus and replace; re-encode any stored PQ codes " +
       "derived from the old codebooks — or persist through " +
       "pqModelWrite instead, whose registered pq_model kind gives the " +
       "orchestrator a training manifest to probe, a fence against " +
       "serving the stale codebooks, and retrain-at-compact"),
    "semanticKmeansIndex" ->
      ("frozen-model assignment index: rebuild from the surviving " +
       "corpus with the RETRAINED model (assignments are a projection " +
       "of the model — a victim-trained model leaks through every row; " +
       "a kmeans_model store's post-compact centroids are exactly that " +
       "retrained model)"),
    "dsirTrain" ->
      ("persisted DSIR log-ratio model (bucket-count aggregate): " +
       "retrain over the surviving corpus and replace — or ingest " +
       "through dsirStoreWrite instead, whose ledgered store the dsir " +
       "kind unlearns EXACTLY without retraining"))

  /** Apply one takedown request to every registered store. `victims`
    * must carry `idCol`; when any registered store's family unlearns
    * from exact ingested text (victimShape `id_text`), it must also
    * carry `textCol` — per id, the non-null text is kept when some rows
    * lack one (an id can arrive both from the document space, with
    * text, and from a vector/node space without). An id arriving with
    * TWO DISTINCT non-null texts refuses upfront — an arbitrary winner
    * would subtract the wrong counts from the id_text stores.
    *
    * Returns one row per store: (kind, path, status, detail) with
    * status `deleted`, `partial` (an id_text store ran, but victim ids
    * that arrived with NULL text are still visible in it — re-run with
    * their exact ingested text), or `failed`. Unless `bestEffort`, any
    * `partial`/`failed` — after EVERY store was attempted — raises with
    * the stores listed; re-running the same forget after fixing the
    * cause is safe (every face tolerates re-delivery).
    */
  def forget(victims: DataFrame, stores: Seq[Store], idCol: String = "id",
      textCol: String = "text", bestEffort: Boolean = false): DataFrame =
    withPreparedVictims("forget", victims, stores, idCol, textCol) {
      (spark, v, nullTextIds, nNullText) =>
        attemptAll(spark, stores, bestEffort, okStatus = "deleted",
          what = "takedown",
          recovery = "Fix the cause and re-run the same forget: every " +
            "face tolerates re-delivery.") { st =>
          deleteOne(spark, st, v, idCol, textCol, nullTextIds, nNullText)
        }
    }

  /** The shared request preparation of [[forget]] /
    * [[forgetCompactAssert]]: upfront validation, the ONE bounded victim
    * materialization (per id, the non-null text wins; `max` ignores
    * nulls), the divergent-text refusal, and the null-text id set the
    * id_text cross-check needs. Checkpointed frames are released when
    * `body` returns.
    */
  private def withPreparedVictims[A](face: String, victims: DataFrame,
      stores: Seq[Store], idCol: String, textCol: String)(
      body: (SparkSession, DataFrame, DataFrame, Long) => A): A = {
    val spark = victims.sparkSession
    validateStores(face, stores)
    require(victims.columns.contains(idCol),
      s"victims must carry the id column '$idCol'")
    val needText = stores.map(s => kinds(s.kind))
      .filter(_.victimShape == "id_text").map(_.name).distinct
    require(needText.isEmpty || victims.columns.contains(textCol),
      s"stores ${needText.mkString(", ")} unlearn from the exact " +
      s"ingested text: victims must carry a '$textCol' column " +
      "(the drift-guard contract — subtracting recomputed counts from " +
      "drifted text would corrupt those models)")
    // ONE bounded materialization; every store face scans this. Per id,
    // prefer the non-null text (max ignores nulls); ids arriving from
    // text-less key spaces ride along with NULL text — see the id_text
    // cross-check in [[deleteOne]] for why those cannot silently count
    // as deleted.
    val v0 =
      if (victims.columns.contains(textCol))
        victims.groupBy(col(idCol))
          .agg(max(col(textCol)).as(textCol),
            countDistinct(col(textCol)).as("__nt"))
      else victims.select(col(idCol)).distinct()
        .withColumn(textCol, lit(null).cast("string"))
        .withColumn("__nt", lit(0L))
    Frames.scoped { f =>
      val vAll = f.checkpoint(v0)
      val v = vAll.drop("__nt")
      // an id arriving with TWO divergent non-null texts is a malformed
      // request: max() would silently pick one, and an id_text store's
      // digest drift-guard would then fail only when the WRONG one won —
      // nondeterministically. Refuse deterministically, naming the ids,
      // BEFORE any store mutates. (Skipped for ids-only requests, where
      // __nt is the literal 0 — no job for an impossible condition.)
      if (victims.columns.contains(textCol)) {
        val conflicted = vAll.filter(col("__nt") > 1)
          .select(col(idCol)).orderBy(col(idCol)).limit(6)
          .collect().map(r => String.valueOf(r.get(0)))
        require(conflicted.isEmpty,
          s"$face: victim ids arrive with more than one distinct " +
          s"non-null '$textCol' (e.g. ${conflicted.mkString(", ")}) — an " +
          "arbitrary winner would subtract the WRONG counts from the " +
          "id_text stores. Deduplicate the request to one exact " +
          "ingested text per id first.")
      }
      // victim ids that arrived with NO text cannot be unlearned by the
      // id_text faces (their deletes subtract counts recomputed from
      // the exact text, so they skip null-text rows by contract): after
      // each id_text delete, cross-check those ids against the store's
      // OWN present probe — any still visible makes that row 'partial',
      // never a silent 'deleted' (a lie only a later audit would catch)
      val nullTextIds =
        if (stores.map(s => kinds(s.kind)).exists(_.victimShape == "id_text"))
          f.checkpoint(v.filter(col(textCol).isNull)
            .select(col(idCol).cast("long").as("id")))
        else null
      val nNullText = if (nullTextIds == null) 0L else nullTextIds.count()
      body(spark, v, nullTextIds, nNullText)
    }
  }

  // one store's delete face + the id_text null-text cross-check — the
  // per-store body of [[forget]], shared verbatim by the fused walk
  private def deleteOne(spark: SparkSession, st: Store, v: DataFrame,
      idCol: String, textCol: String, nullTextIds: DataFrame,
      nNullText: Long): String = {
    val kind = kinds(st.kind)
    // victims renamed to the store's id column (opts("idCol"), defaulting
    // to the request's) so one request frame serves stores keyed on
    // doc_id / vec_id / node ids alike
    val sid = st.opts.getOrElse("idCol", idCol)
    kind.invoke(v.withColumnRenamed(idCol, sid), sid, textCol, st)
    if (kind.victimShape == "id_text" && nNullText > 0) {
      val (n, sample) = probeRemaining(spark, st, idCol, nullTextIds)
      if (n > 0) throw PartialTakedown(
        s"$n victim id(s) arrived with NULL " +
        s"'$textCol' and are still present in this id_text store " +
        s"(e.g. ${sample.mkString(",")}) — re-run " +
        "forget carrying their exact ingested text")
    }
    kind.deleteFace
  }

  // the one takedown probe: how many of `ids` (one long `id` column)
  // the store's own read-visibility rule still sees, with up to five of
  // them in id order. Callers run it inside their per-store thunk, so
  // every projection here is a fresh expression instance over the
  // shared checkpointed leaf (the single-reader rule).
  private def probeRemaining(spark: SparkSession, st: Store, idCol: String,
      ids: DataFrame): (Long, Seq[Long]) = {
    val r = kinds(st.kind).present(spark, idCol, st)
      .select(col("id").cast("long").as("id"))
      .join(broadcast(ids), Seq("id"), "left_semi")
      .agg(countDistinct(col("id")).as("n"),
        slice(sort_array(collect_set(col("id"))), 1, 5).as("sample"))
      .head()
    (r.getLong(0), r.getSeq[Long](1))
  }

  /** [[forget]] + [[compactAll]] + [[assertForgotten]] fused into ONE
    * concurrent store walk: per store, delete → compact → audit-probe
    * run as one chain, stores in flight on the shared bounded pool.
    * When every store succeeds, the end state and the per-store
    * verdicts equal calling the three entry points in sequence (stores
    * are independent — distinct validated roots — and each phase of one
    * store only reads/writes that store). On a failure the two differ:
    * the phased sequence stops at the first failed PHASE (a failed
    * delete on one store means no store compacts), while the fused walk
    * still compacts and audits every store whose own chain is healthy —
    * strictly more work, all of it idempotent, so a re-run converges to
    * the same state either way. The fusion removes the two GLOBAL
    * barriers, so the wall-clock is the slowest store's whole chain
    * instead of Σ (slowest store per phase), and a fast store's
    * compaction back-fills executor slots while a slow store is still
    * deleting.
    *
    * Same attempt-all + loud-failure contract: every store runs its
    * full chain even when another failed; outcomes are reported per
    * store — `purged` (delete + compact + audit clean), `partial` (the
    * id_text null-text case), `held` (the audit probe still sees
    * requested ids — NOT proven), or `failed` — and unless `bestEffort`
    * any non-`purged` row raises AFTER the full pass. Recovery is
    * per-store, exactly as for the unfused faces: fix the cause and
    * re-run (every delete face tolerates re-delivery; a crashed compact
    * re-runs under its `_MAINT`/takeover contract).
    */
  def forgetCompactAssert(victims: DataFrame, stores: Seq[Store],
      idCol: String = "id", textCol: String = "text",
      bestEffort: Boolean = false): DataFrame =
    withPreparedVictims("forgetCompactAssert", victims, stores, idCol,
      textCol) { (spark, v, nullTextIds, nNullText) =>
      attemptAll(spark, stores, bestEffort, okStatus = "purged",
        what = "takedown",
        recovery = "Fix the cause and re-run the same " +
          "forgetCompactAssert: delete faces tolerate re-delivery, " +
          "compactions re-run under their _MAINT/takeover contract, " +
          "and completed stores no-op.") { st =>
        val detail = deleteOne(spark, st, v, idCol, textCol,
          nullTextIds, nNullText)
        val compacted = kinds(st.kind).compact match {
          case Some(c) => c(spark, st); true
          case None => false
        }
        // the audit probe: the store's own read-visibility rule must no
        // longer see any requested id — post-compact, so `held` means
        // the takedown is NOT proven for this store
        val (n, sample) = probeRemaining(spark, st, idCol,
          v.select(col(idCol).cast("long").as("id")))
        if (n > 0) throw HeldAfterTakedown(
          s"$n requested id(s) still visible after delete" +
          s" + compact (e.g. ${sample.mkString(",")})")
        s"$detail + ${if (compacted) "compacted" else "no compaction face"}" +
          " + audit clean"
      }
    }

  /** The PHYSICAL-REMOVAL half, orchestrated: run each registered
    * store's compaction face (tombstones fold out of bases, ledgers
    * retire victim evidence, delta channels collapse). Stores whose
    * delete is already physical (the `table` kind) report `noop`. Same
    * attempt-all + loud-failure semantics as [[forget]]; compaction
    * faces are re-runnable by the `_MAINT` protocol, so the recovery
    * for a partial failure is takeover-re-running THAT store's compact
    * (a crashed REBUILD-typed marker instead demands its rebuild —
    * see [[AtomicBatches]]). `opts("includeLatest") = "true"` on the
    * stream-shaped kinds folds their newest batch too (quiesced
    * streams only — the replay contract).
    */
  def compactAll(spark: SparkSession, stores: Seq[Store],
      bestEffort: Boolean = false): DataFrame = {
    validateStores("compactAll", stores)
    attemptAll(spark, stores, bestEffort, okStatus = "compacted",
      what = "compaction",
      recovery = "Re-run the failed store's compaction (takeover = true " +
        "on a stale compact marker; a rebuild-typed marker demands its " +
        "rebuild) and then compactAll again — completed compactions " +
        "no-op on re-delivery.") { st =>
      kinds(st.kind).compact match {
        case Some(c) => c(spark, st); "physical removal folded in"
        case None => throw NoopCompaction
      }
    }
  }

  /** AUDIT: prove the takedown took. Per store, semi-join the store's
    * `present`-ids probe against the requested ids and report how many
    * still influence it: (kind, path, status, n_remaining,
    * remaining_sample) — status `clean` (zero), `held` (some remain),
    * or `failed` (the probe errored; treat as NOT clean). The probes
    * are the stores' own read-visibility rules (tombstone-aware views,
    * ledger folds, victim-channel hiding), so `clean` means no read
    * face can still see the ids — before OR after compaction. Cost:
    * one column-pruned probe + broadcast semi-join per store; the
    * remaining set is bounded by the request, so the sample collect is
    * bounded too.
    */
  def audit(victims: DataFrame, stores: Seq[Store], idCol: String = "id")
      : DataFrame = {
    val spark = victims.sparkSession
    validateStores("audit", stores)
    require(victims.columns.contains(idCol),
      s"victims must carry the id column '$idCol'")
    Frames.scoped { f =>
      // one probe per store reads it
      val v = f.checkpoint(
        victims.select(col(idCol).cast("long").as("id")).distinct())
      val outcomes = inParallel(stores) { st =>
        try {
          val (n, sample) = probeRemaining(spark, st, idCol, v)
          (st.kind, st.path, if (n == 0) "clean" else "held", n,
            sample.mkString(","))
        } catch {
          case e: Exception =>
            (st.kind, st.path, "failed", -1L,
              Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
        }
      }
      import spark.implicits._
      outcomes.toDF("kind", "path", "status", "n_remaining",
        "remaining_sample")
    }
  }

  /** The loud form of [[audit]]: throws unless EVERY store is `clean` —
    * the governance assertion to run after [[forget]] (and optionally
    * after [[compactAll]]): a takedown isn't done when the faces were
    * called, it's done when no store can still see the ids.
    */
  def assertForgotten(victims: DataFrame, stores: Seq[Store],
      idCol: String = "id"): Unit = {
    val bad = audit(victims, stores, idCol)
      .filter(col("status") =!= "clean")
      .collect()
      .map(r => s"${r.getString(0)} @ ${r.getString(1)}: ${r.getString(2)}" +
        s" (n_remaining=${r.getLong(3)}, ${r.getString(4)})")
    if (bad.nonEmpty) throw new IllegalStateException(
      "takedown NOT proven: " + bad.mkString("; ") +
      " — the listed stores' read faces can still see requested ids " +
      "(or their audit probe failed). Re-run forget / fix the store, " +
      "then assertForgotten again.")
  }

  private object NoopCompaction extends Exception

  // an id_text face ran, but victim ids that arrived with NULL text are
  // still visible in the store — the outcome row must say so instead of
  // 'deleted' ([[forget]]'s cross-check); counts as a failure for the
  // loud raise (the takedown is NOT complete on that store)
  private final case class PartialTakedown(msg: String) extends Exception(msg)

  // the fused walk's audit probe still sees requested ids after delete +
  // compact — reported as 'held' (the assertForgotten verdict, per
  // store); counts as a failure for the loud raise
  private final case class HeldAfterTakedown(msg: String) extends Exception(msg)

  // one attempt-all pass over the stores: every store is tried even
  // when an earlier one failed, outcomes are reported per store (in
  // input order), and (unless bestEffort) any failure raises AFTER the
  // full pass. Registered stores are INDEPENDENT — distinct roots, each
  // face touching only its own — so the pass runs them CONCURRENTLY on
  // a bounded pool: an orchestrated takedown is ~70 small Spark jobs
  // which Spark's scheduler happily interleaves, so the SLA wall-clock
  // is the slowest store's chain, not the sum of eleven.
  private def attemptAll(spark: SparkSession, stores: Seq[Store],
      bestEffort: Boolean, okStatus: String, what: String,
      recovery: String)(run: Store => String): DataFrame = {
    val outcomes = inParallel(stores) { st =>
      try {
        val detail = run(st)
        (st.kind, st.path, okStatus, detail)
      } catch {
        case NoopCompaction =>
          (st.kind, st.path, "noop", "delete is already physical")
        case PartialTakedown(m) =>
          (st.kind, st.path, "partial", m.take(300))
        case HeldAfterTakedown(m) =>
          (st.kind, st.path, "held", m.take(300))
        case e: Exception =>
          (st.kind, st.path, "failed",
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
      }
    }
    val failed = outcomes.filter(o =>
      o._3 == "failed" || o._3 == "partial" || o._3 == "held")
    if (failed.nonEmpty && !bestEffort)
      throw new IllegalStateException(
        s"$what INCOMPLETE: ${failed.size}/${stores.size} store(s) " +
        "failed (every store was attempted) — " +
        failed.map(f => s"${f._1} @ ${f._2}: ${f._4}").mkString("; ") +
        s". $recovery")
    import spark.implicits._
    outcomes.toDF("kind", "path", "status", "detail")
  }

  /** Bounded-parallelism map that PRESERVES input order in its results.
    * The threads exist only to SUBMIT concurrent Spark jobs (the work
    * itself runs on the executors); 8 in flight keeps a driver's
    * scheduler busy without flooding it, and per-store try/catch above
    * means `f` only throws on VM-level errors. Sequential for 0/1
    * element. Package-visible: independent-store walks elsewhere (e.g.
    * building a store fleet) ride the same helper.
    *
    * Why 8 and not "all N stores at once": a store walk is a CHAIN of
    * heavy multi-stage jobs, not idle waiting — at the 13 registered
    * kinds a cap of 16 (one wave) was A/B-measured 40% SLOWER than 8
    * (isolated fresh-JVM `pipeline_takedown_all` at sf0.1/32 cores:
    * 43.4 s one-wave vs 32.3 s two-wave, same commit) because thirteen
    * concurrent shuffling builds oversubscribe the cores and every
    * chain's stages stall mid-flight. With 8 in flight Spark's FIFO
    * scheduler backfills the tail of one store's stage with the next
    * store's tasks anyway (guide §2.6), so the "second wave" costs far
    * less than ⌈N/pool⌉ arithmetic suggests, and the cap stays sane at
    * the LOWER core counts the driver also benches.
    */
  // true while the current thread is already executing inside an
  // inParallel worker: a NESTED walk (a store build whose table writes
  // are themselves inParallel, under an orchestrated 8-store walk) runs
  // sequentially, so the GLOBAL concurrent-job fan-out stays bounded by
  // the outermost pool — 8 stores × 4 inner writes = 32 concurrent
  // shuffling jobs was the same oversubscription the pool-of-16 A/B
  // measured 40% slower (scaladoc above)
  private val insideWalk = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  private[graft] def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1 || insideWalk.get()) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.size, 8))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[B]] =
          xs.map(x => (() => {
            insideWalk.set(java.lang.Boolean.TRUE)
            try f(x) finally insideWalk.set(java.lang.Boolean.FALSE)
          }): java.util.concurrent.Callable[B])
        val results: Seq[Either[Throwable, B]] =
          pool.invokeAll(tasks.asJava).asScala.toSeq.map { fut =>
            try Right(fut.get())
            catch {
              // unwrap to the thunk's OWN failure, not the executor
              // wrapper: callers (and their logs) must see the failing
              // store/build, and attemptAll's per-element catch already
              // ran inside the thunk — only genuine Errors reach here
              case e: java.util.concurrent.ExecutionException =>
                Left(Option(e.getCause).getOrElse(e))
            }
          }
        results.collect { case Left(t) => t } match {
          case Seq() => results.collect { case Right(b) => b }
          case first +: rest =>
            // invokeAll waited for EVERY task, so when several raw
            // thunks fail (possible for callers without attemptAll's
            // per-element catch, e.g. the bench store builds) the later
            // failures must not vanish from logs: the first rethrows
            // with the rest attached as suppressed. `ne` guards the
            // JVM's self-suppression refusal if thunks share an
            // exception instance.
            rest.filter(_ ne first).foreach(first.addSuppressed)
            throw first
        }
      } catch {
        // an interrupted caller must not leak still-running Spark jobs
        case e: InterruptedException => pool.shutdownNow(); throw e
      } finally pool.shutdown()
    }
}
