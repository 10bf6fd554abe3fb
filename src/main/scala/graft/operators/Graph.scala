package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Frames

/** Link-graph analytics for corpus curation. PageRank over a crawl's
  * link graph is the classic page-quality prior (it is what "quality
  * documents link to quality documents" means operationally), used to
  * weight or filter web-scale pretraining corpora alongside the text
  * heuristics in [[graft.functions.TextFunctions]].
  *
  * The reference (a per-message Kafka pipeline, `/root/reference/
  * src/consumer.js`) has no graph surface; this extends the relational
  * engine the same way [[Dedup.connectedComponents]] does — iterative
  * joins with eager checkpoint + explicit block release per round.
  */
object Graph {

  /** Fixed-iteration PageRank (Page et al. 1999) in the classic
    * unnormalized form:
    * `rank⁰(v) = 1;  rankᵏ(v) = (1−d) + d · Σ_{(u,v)∈E} rankᵏ⁻¹(u) / outdeg(u)`.
    * Nodes with no in-edges settle at `1−d`; dangling nodes (no
    * out-edges) simply contribute nothing — this is the standard
    * map-reduce formulation (ranks sum to ≤N rather than 1, ordering
    * and ratios match the normalized variant on non-dangling graphs).
    *
    * Duplicate (src, dst) rows act as parallel edges (each contributes);
    * pre-`distinct()` for simple-graph semantics.
    *
    * Scale shape: the edge table is joined against the rank table every
    * iteration, so it is out-degree-annotated ONCE, hash-partitioned by
    * `src` ONCE, and persisted — each round then shuffles only the
    * node-sized rank table to meet it (the planner reuses the cached
    * edge partitioning), followed by one map-side-combined aggregation
    * on `dst`. Per round the lineage is truncated with an eager
    * localCheckpoint and the previous round's blocks are released
    * explicitly ([[graft.Frames]]) — the same discipline as
    * [[Dedup.connectedComponents]], so a loop
    * of 10-20 rounds holds exactly one node-sized frame at a time. On a
    * real cluster point `spark.checkpoint.dir` at durable storage and
    * swap `checkpoint()` in for executor-loss tolerance.
    *
    * Returns (id, rank) for every node appearing as a src or dst.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double = 0.85): DataFrame =
    pageRankImpl(edges, srcCol, dstCol, iters, damping,
      init = _ => lit(1.0), base = (_, d) => lit(1.0 - d))

  /** Personalized PageRank (random walk with restart to a SEED set —
    * the TrustRank construction, Gyöngyi, Garcia-Molina & Pedersen
    * 2004): `rank⁰(v) = [v ∈ S]; rankᵏ(v) = (1−d)·[v ∈ S] + d · Σ
    * rankᵏ⁻¹(u)/outdeg(u)`. Mass starts at and teleports back to the
    * seeds, so scores measure proximity to TRUSTED pages — the classic
    * seed-expansion prior for corpus curation ("crawl outward from
    * curated domains, weight by walk distance"), where global
    * [[pageRank]] measures popularity regardless of provenance. Nodes
    * unreachable from the seed set score exactly 0.
    *
    * Seeds absent from the graph contribute nothing (they are not
    * nodes); same unnormalized fixed-iteration formulation, identical
    * per-round scale shape and checkpoint discipline as [[pageRank]]
    * (shared loop). The seed literal is an `isin` over a driver-held
    * Seq — seed sets are curated and small by construction.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: Seq[Long], iters: Int, damping: Double = 0.85): DataFrame = {
    require(seeds.nonEmpty, "personalizedPageRank needs at least one seed")
    def seeded(v: Double): Column => Column =
      id => when(id.isin(seeds: _*), lit(v)).otherwise(lit(0.0))
    pageRankImpl(edges, srcCol, dstCol, iters, damping,
      init = seeded(1.0), base = (id, d) => seeded(1.0 - d)(id))
  }

  private def pageRankImpl(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, damping: Double, init: Column => Column,
      base: (Column, Double) => Column): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0.0 && damping < 1.0, "damping in (0, 1)")
    Frames.scoped { f =>
      val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      // out-degree annotation once, partitioned by the per-round join key
      val outdeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
      val linked = f.persist(e.join(outdeg, Seq("src")).repartition(col("src")))
      val nodes = f.checkpoint(linked.select(col("src").as("id"))
        .union(linked.select(col("dst").as("id")))
        .distinct())

      // UNLIKE connected components (whose round plan references `labels`
      // twice and doubles per round), a PageRank round references the
      // previous ranks ONCE — the plan grows linearly. So rounds compose
      // lazily and the checkpoint (lineage cut + materialization job)
      // lands only every `CheckpointEvery` rounds and at the end: a
      // 3-round run is ONE job instead of three. Checkpointed rounds
      // release their predecessor's blocks; the round-0 frame is a
      // projection of the node table, not a pinned frame (null sentinel).
      var ranks = nodes.select(col("id"), init(col("id")).as("rank"))
      var prev: DataFrame = null
      (1 to iters).foreach { i =>
        val contribs = linked
          .join(ranks.select(col("id").as("src"), col("rank")), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("rank") / col("deg")).as("c"))
        ranks = nodes.join(contribs, Seq("id"), "left_outer")
          .select(col("id"),
            (base(col("id"), damping) +
              lit(damping) * coalesce(col("c"), lit(0.0))).as("rank"))
        // the final round always materializes (the returned frame, left
        // to session cleanup): it must not re-read `linked` once the
        // scope frees it
        if (i == iters) ranks = ranks.localCheckpoint(true)
        else if (i % CheckpointEvery == 0) {
          ranks = f.checkpoint(ranks)
          if (prev != null) f.release(prev)
          prev = ranks
        }
      }
      ranks
    }
  }

  /** Lineage-cut cadence for [[pageRank]]'s lazy round composition. */
  private val CheckpointEvery = 4

  /** The `k`-core of an undirected simple graph — the maximal subgraph
    * in which every vertex has degree ≥ `k` (Seidman 1983; the
    * linear-time peel is Matula & Beck 1983 / Batagelj & Zaveršnik
    * 2003) — the third classic curation prior after [[pageRank]] and
    * [[triangles]]: core membership separates densely-embedded pages
    * (the stable "core" of a link community) from peripheral ones, and
    * is the standard cheap proxy for graph denoising before the more
    * expensive priors run.
    *
    * Incremental stance: REBUILD. The peel fixpoint cascades globally
    * under edge appends (one new edge can raise a vertex over the bar,
    * whose survival re-qualifies neighbors, transitively) — there is no
    * touched-neighborhood locality like [[trianglesIndexAppend]]'s, so
    * a maintained k-core would re-peel in the worst case anyway; run
    * the peel per curation pass (it is edge-sized per round and
    * converges in a handful of rounds on web-shaped graphs).
    *
    * Input edges are canonicalized like [[triangles]] (self-loops
    * dropped, direction/duplicates collapsed). Returns (id, core_deg) —
    * every vertex of the k-core with its degree WITHIN the core
    * (≥ `k` by definition); vertices peeled away are absent. An empty
    * result means the graph has no k-core.
    *
    * Algorithm: synchronous peeling to fixpoint — drop every vertex of
    * degree < `k`, recompute degrees, repeat (the distributed
    * formulation of Montresor, De Pellegrini & Miorandi 2013). Each
    * round is one map-side-combined degree aggregation plus two
    * left-semi joins of the edge frame against the surviving node set —
    * all shuffles edge-sized, nothing quadratic. Rounds truncate
    * lineage with an eager localCheckpoint and release the previous
    * round's blocks ([[Dedup.connectedComponents]]'s discipline), so
    * the loop holds one edge-sized frame at a time; the fixpoint test
    * rides the edge count the checkpoint already materializes (no extra
    * job per round).
    *
    * `maxRounds` bounds the peel LOUDLY: synchronous peeling needs as
    * many rounds as the longest chain of cascading removals (O(n) on a
    * path), and an engine replaying this result (the `graph_kcore`
    * oracle unrolls the rounds) must know a bound held. Raise it for
    * chain-shaped graphs.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxRounds: Int = 64): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    // the last round is returned: left to session cleanup
    Frames.returning { f =>
      var e = f.checkpoint(canonicalUndirected(edges, srcCol, dstCol))
      var edgeCount = e.count()
      var rounds = 0
      var done = edgeCount == 0L
      while (!done) {
        rounds += 1
        require(rounds <= maxRounds,
          s"k-core peel did not converge within $maxRounds rounds")
        val deg = e.select(explode(array(col("a"), col("b"))).as("id"))
          .groupBy("id").agg(count(lit(1)).as("deg"))
        val keep = deg.filter(col("deg") >= k).select("id")
        val next = f.checkpoint(e
          .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
          .select("a", "b"))
        val nextCount = next.count()
        f.release(e)
        e = next
        // no edge left the graph ⇒ no degree changed ⇒ fixpoint
        done = nextCount == edgeCount || nextCount == 0L
        edgeCount = nextCount
      }
      e.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("core_deg"))
    }
  }

  /** Canonical undirected simple graph: self-loops dropped, (a, b) /
    * (b, a) / duplicates collapsed. Every caller checkpoints it: each
    * reads it at least twice.
    */
  private def canonicalUndirected(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = edges
    .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
    .select(least(col("a"), col("b")).as("a"),
      greatest(col("a"), col("b")).as("b"))
    .distinct()

  /** Local clustering coefficients: per vertex,
    * `2·triangles / (deg·(deg−1))` — the fraction of a vertex's
    * neighbor pairs that are themselves linked (Watts & Strogatz
    * 1998), 0 for degree < 2. THE near-clique detector in link-graph
    * curation (catalog bundles and spam farms score ~1, organic
    * neighborhoods low) — [[triangles]] normalized by opportunity, so
    * hubs and leaves are comparable. Returns (id, triangles, deg,
    * coef round-6) for every vertex. Cost: the [[triangles]]
    * O(m^{3/2}) count plus one edge-sized degree aggregation.
    */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = Frames.returning { f =>
    val e0 = f.checkpoint(canonicalUndirected(edges, srcCol, dstCol))
    val deg = e0.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    trianglesCanonical(f, e0).join(deg, Seq("id"))
      .select(col("id"), col("triangles"), col("deg"),
        round(when(col("deg") >= 2,
          lit(2.0) * col("triangles") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)), 6).as("coef"))
  }

  /** Exact per-vertex triangle counts of an undirected simple graph —
    * the local-clustering signal (spam link farms are near-cliques;
    * organic link neighborhoods are sparse) and the second classic
    * graph prior for corpus curation after [[pageRank]].
    *
    * Input edges are canonicalized first: self-loops dropped, (a, b) /
    * (b, a) / duplicate rows collapse to one undirected edge. Returns
    * (id, triangles) for EVERY vertex of the edge set, zeros included.
    *
    * Scale shape — the node-iterator++ orientation (Suri &
    * Vassilvitskii 2011; Schank & Wagner 2005): each edge is directed
    * from its (degree, id)-smaller endpoint to the larger, a total
    * order, so the oriented graph is a DAG whose out-degrees are
    * O(√m) — wedges are enumerated ONLY at each triangle's
    * lowest-degree vertex, bounding the wedge join at O(m^{3/2}) total
    * work instead of Σ deg² (the difference between a star hub
    * generating deg² wedges and generating none). Every triangle is
    * produced exactly once as (u → v, u → w, v → w) with v before w in
    * the orientation order, so counts need no dedup. The oriented
    * frame is localCheckpointed once (wedge build reads it twice, the
    * closure join a third time); the closure is an equi-join on the
    * (v, w) pair — all shuffles are edge- or wedge-sized, nothing
    * quadratic in a vertex's neighborhood beyond the bounded wedge set.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    Frames.returning(f => trianglesCanonical(f,
      f.checkpoint(canonicalUndirected(edges, srcCol, dstCol))))

  /** Persist a triangle-count index: the canonical edge set under
    * `<path>/edges` and per-vertex counts under `<path>/counts` — the
    * batch-zero half of the incremental discipline every dedup/sketch
    * family here follows. `counts` is APPEND-ONLY per-batch deltas
    * (the BM25 stats-table rule): [[trianglesIndexAppend]] never
    * rewrites history, and [[trianglesFromIndex]] folds by exact
    * integer sums, so the probe is append-order-invariant. Appended
    * batches live under `<path>/batches/<n>/{edges,counts}` and become
    * visible atomically via their `_COMMIT` marker (crash-safety — see
    * [[trianglesIndexAppend]]).
    */
  def trianglesIndexWrite(edges: DataFrame, srcCol: String, dstCol: String,
      path: String): Unit =
    // the whole rebuild holds _MAINT (withRebuildMarker): a crash after
    // the base landed but before the stale batches/ channel was retired
    // used to leave readers silently folding the old batches onto the
    // fresh base — now the window fails loudly instead
    AtomicBatches.withRebuildMarker(edges.sparkSession, path) {
      // both base tables read the checkpointed e0 and any crash inside
      // the rebuild marker demands a full rebuild — so the cheap edge
      // write runs concurrently with the triangle-count job; the blocks
      // drop once both writes are done
      Frames.scoped { f =>
        val e0 = f.checkpoint(canonicalUndirected(edges, srcCol, dstCol))
        Takedown.inParallel(Seq[() => Unit](
          () => e0.write.mode("overwrite").parquet(s"$path/edges"),
          () => trianglesCanonical(f, e0).filter(col("triangles") > 0)
            .select(col("id"), col("triangles").as("d_triangles"))
            .write.mode("overwrite").parquet(s"$path/counts")))(_.apply())
      }
      // a REBUILD invalidates every appended batch and any interrupted
      // compaction's stage: both retired only AFTER the new base lands
      val fs = StoreRoot.fs(edges.sparkSession, path)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/batches"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/base_next"), true)
    }

  /** Append an edge batch to a [[trianglesIndexWrite]] index WITHOUT
    * recounting the corpus: only triangles CONTAINING a genuinely new
    * edge are enumerated — the touched-neighborhood locality the
    * incremental dedup faces use, applied to graphs.
    *
    * Correctness: new edges are canonicalized and anti-joined against
    * the stored edge set (a re-sent edge creates no triangles); each
    * new triangle has 1–3 new edges and is attributed to its LARGEST
    * new edge in canonical (a, b) order — the wedge through that edge
    * survives only if the other two edges are old or strictly smaller
    * new, so every new triangle is counted exactly once. The result of
    * [[trianglesFromIndex]] afterwards equals a full rebuild over the
    * union (the `graph_triangles_incremental` oracle).
    *
    * Scale shape: wedges are enumerated from each new edge's
    * (degree, id)-SMALLER endpoint only (the edge-iterator bound,
    * Chiba & Nishizeki 1985) — Σ min(deg a, deg b) candidate rows over
    * the batch, never the corpus's wedge set; closure is one edge-sized
    * equi-join against the stored (plus delta) edge table; the counts
    * update appends one vertex-delta row per touched vertex. Degrees
    * are recomputed over the union in one edge-sized aggregation —
    * cheaper to rebuild than to version, and used only to pick the
    * enumeration side (any side is CORRECT; the small one is fast).
    */
  def trianglesIndexAppend(newEdges: DataFrame, srcCol: String,
      dstCol: String, path: String): Unit = Frames.scoped { f =>
    val spark = newEdges.sparkSession
    val root = trianglesRoot(spark, path, "trianglesIndexAppend")
    // crash-safe append: both deltas land under one batch directory and
    // become visible ATOMICALLY via its _COMMIT marker — a crash
    // between the counts and edges writes can neither double-count (a
    // re-sent batch's edges are still invisible, so the anti-join keeps
    // them and the crashed uncommitted directory is swept here) nor
    // under-count (readers never see a half-written batch)
    AtomicBatches.sweepUncommitted(spark, s"$path/batches")
    val old = indexEdges(root)
    val canon = f.checkpoint(canonicalUndirected(newEdges, srcCol, dstCol))
    // edge write + union + wedge build read it
    val delta = f.checkpoint(canon.join(old, Seq("a", "b"), "left_anti"))
    f.release(canon) // folded into delta's blocks
    val union = f.checkpoint(
      old.select(col("a"), col("b"), lit(false).as("is_new"))
        .union(delta.select(col("a"), col("b"), lit(true).as("is_new"))))
    val deg = union.select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    // delta edges with endpoint degrees: s = (deg, id)-smaller endpoint
    val dk = delta
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("a")).otherwise(col("b")).as("s"),
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          col("b")).otherwise(col("a")).as("t"))
    // neighbors of s in the union, carrying the underlying edge's
    // identity so the once-per-triangle attribution can compare keys
    val adj = union.select(col("a").as("u"), col("b").as("z"),
        col("is_new").as("e1_new"), struct(col("a"), col("b")).as("e1k"))
      .union(union.select(col("b").as("u"), col("a").as("z"),
        col("is_new").as("e1_new"), struct(col("a"), col("b")).as("e1k")))
    val cand = dk.join(adj, col("u") === col("s"))
      .filter(col("z") =!= col("t"))
      .select(col("a"), col("b"), col("t"), col("z"), col("e1_new"),
        col("e1k"))
    // close the wedge: does (z, t) exist? (inner join = existence +
    // carries that edge's identity)
    val e2 = union.select(col("a").as("__a2"), col("b").as("__b2"),
      col("is_new").as("e2_new"), struct(col("a"), col("b")).as("e2k"))
    val dkey = struct(col("a"), col("b"))
    val closed = cand.join(e2,
        least(col("z"), col("t")) === col("__a2") &&
          greatest(col("z"), col("t")) === col("__b2"))
      .filter(!(col("e1_new") && col("e1k") > dkey) &&
        !(col("e2_new") && col("e2k") > dkey))
    val bdir =
      s"$path/batches/${AtomicBatches.nextBatchN(spark, s"$path/batches")}"
    // both staged tables are invisible until the _COMMIT below and read
    // only checkpointed frames — concurrent (the CountStore.stageDelta
    // judgment): the cheap delta write overlaps the wedge-closure job
    Takedown.inParallel(Seq[() => Unit](
      () => closed
        .select(explode(array(col("a"), col("b"), col("z"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("d_triangles"))
        .write.mode("overwrite").parquet(s"$bdir/counts"),
      () => delta.select("a", "b")
        .write.mode("overwrite").parquet(s"$bdir/edges")))(_.apply())
    // the append face is the REPEATEDLY-CALLED ingestion path: the
    // scope frees this call's pinned blocks so N appends don't hold N
    // edge-table copies (the kCenterGreedy / pageRank discipline)
    AtomicBatches.commit(spark, bdir)
  }

  /** DELETE (takedown) face of a [[trianglesIndexWrite]] index: remove
    * an edge batch WITHOUT recounting the corpus — the mirror of
    * [[trianglesIndexAppend]]: only triangles CONTAINING a deleted edge
    * are enumerated (they existed in the pre-delete edge set, so
    * wedges/closure run over the CURRENT edges with the victims still
    * in), each destroyed triangle is attributed to its LARGEST deleted
    * edge in canonical (a, b) order (1–3 of its edges may be deleted —
    * exactly once), and one NEGATIVE per-vertex count delta lands with
    * the removal list as an atomic `_COMMIT` batch. Edges absent from
    * the index are a harmless no-op. [[trianglesFromIndex]] afterwards
    * equals a full rebuild over the surviving edges (the
    * `graph_triangles_deleted` oracle); a later append may legitimately
    * re-add a deleted edge (edge membership folds by batch order).
    * Physical removal of the history is [[trianglesIndexCompact]]'s
    * job.
    */
  def trianglesIndexDelete(edges: DataFrame, srcCol: String,
      dstCol: String, path: String): Unit = Frames.scoped { f =>
    val spark = edges.sparkSession
    val root = trianglesRoot(spark, path, "trianglesIndexDelete")
    AtomicBatches.sweepUncommitted(spark, s"$path/batches")
    val cur = f.checkpoint(indexEdges(root))
    val canon = f.checkpoint(canonicalUndirected(edges, srcCol, dstCol))
    // only edges the index holds delete; re-sent deletions no-op;
    // the wedge build + removal write read it
    val del = f.checkpoint(canon.join(cur, Seq("a", "b"), "left_semi"))
    f.release(canon)
    // nothing to remove: committing an empty removals batch would
    // permanently demote indexEdges from its plain-union fast path to
    // the per-edge fold — a lasting probe-cost regression bought by a
    // delete that changed nothing
    if (!del.isEmpty) {
      val union = f.checkpoint(cur
        .join(del.select(col("a"), col("b"), lit(true).as("is_del")),
          Seq("a", "b"), "left_outer")
        .select(col("a"), col("b"),
          coalesce(col("is_del"), lit(false)).as("is_del")))
      f.release(cur)
      val deg = union.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val dk = del
        .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
        .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
        .select(col("a"), col("b"),
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            col("a")).otherwise(col("b")).as("s"),
          when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
            col("b")).otherwise(col("a")).as("t"))
      val adj = union.select(col("a").as("u"), col("b").as("z"),
          col("is_del").as("e1_del"), struct(col("a"), col("b")).as("e1k"))
        .union(union.select(col("b").as("u"), col("a").as("z"),
          col("is_del").as("e1_del"), struct(col("a"), col("b")).as("e1k")))
      val cand = dk.join(adj, col("u") === col("s"))
        .filter(col("z") =!= col("t"))
        .select(col("a"), col("b"), col("t"), col("z"), col("e1_del"),
          col("e1k"))
      val e2 = union.select(col("a").as("__a2"), col("b").as("__b2"),
        col("is_del").as("e2_del"), struct(col("a"), col("b")).as("e2k"))
      val dkey = struct(col("a"), col("b"))
      // once-per-triangle: this delta edge must be the LARGEST deleted
      // edge of the triangle it destroys
      val closed = cand.join(e2,
          least(col("z"), col("t")) === col("__a2") &&
            greatest(col("z"), col("t")) === col("__b2"))
        .filter(!(col("e1_del") && col("e1k") > dkey) &&
          !(col("e2_del") && col("e2k") > dkey))
      val bdir =
        s"$path/batches/${AtomicBatches.nextBatchN(spark, s"$path/batches")}"
      // concurrent like the append face: both tables are invisible until
      // the _COMMIT below and read only checkpointed frames
      Takedown.inParallel(Seq[() => Unit](
        () => closed
          .select(explode(array(col("a"), col("b"), col("z"))).as("id"))
          .groupBy("id").agg((-count(lit(1))).as("d_triangles"))
          .write.mode("overwrite").parquet(s"$bdir/counts"),
        () => del.select("a", "b")
          .write.mode("overwrite").parquet(s"$bdir/removals")))(_.apply())
      AtomicBatches.commit(spark, bdir)
    }
  }

  /** NODE-level takedown over a [[trianglesIndexWrite]] index: delete
    * every CURRENT edge incident to a victim id — the "forget this
    * node" form a corpus-level takedown request arrives in (the
    * orchestrator's [[graft.operators.Takedown]] `triangles` kind),
    * where the caller knows WHO must be forgotten, not which edges the
    * index happens to hold for them. One column-pruned pass over the
    * folded edge view (two broadcast semi-joins, one per endpoint),
    * then the edge-level [[trianglesIndexDelete]] over exactly those
    * edges — same atomic `_COMMIT` staging, same
    * equals-rebuild-over-survivors contract, zero edges incident = a
    * no-op that preserves the append-only probe fast path.
    */
  def trianglesIndexDeleteNodes(ids: DataFrame, idCol: String,
      path: String): Unit = Frames.scoped { f =>
    val root = trianglesRoot(ids.sparkSession, path,
      "trianglesIndexDeleteNodes")
    // both endpoint semi-joins read it
    val v = f.checkpoint(
      ids.select(col(idCol).cast("long").as("__vid")).distinct())
    // the folded edge view feeds BOTH endpoint semi-joins and (via the
    // incident frame) trianglesIndexDelete's own join — checkpoint it
    // once so a slow-fold history (any prior delete) is not re-folded
    // three times per node takedown
    val cur = f.checkpoint(indexEdges(root))
    val incident = cur
      .join(broadcast(v.select(col("__vid").as("a"))), Seq("a"), "left_semi")
      .unionByName(cur.join(
        broadcast(v.select(col("__vid").as("b"))), Seq("b"), "left_semi"))
      .select(col("a"), col("b")).distinct()
    trianglesIndexDelete(incident, "a", "b", path)
  }

  /** Fold a triangle index's committed batch history into a fresh base
    * (edges = the batch-order edge fold, counts = the exact integer
    * count fold, zero rows dropped) and retire the `batches/` channel —
    * the physical-removal half of [[trianglesIndexDelete]] and the
    * read-cost bound for long append histories.
    *
    * Crash safety (the staged-swap discipline): the new base is staged
    * under `base_next/` and committed with a `_COMMIT` marker BEFORE
    * the swap touches anything readers use; a re-run (`takeover =
    * true`) either recomputes the stage from the still-intact old
    * state (no marker) or just redoes the idempotent swap (marker
    * present — delete batches, overwrite base from the stage, drop the
    * stage). EXCLUSIVE maintenance via `_MAINT`: every index face fails
    * loudly while it runs.
    */
  def trianglesIndexCompact(spark: org.apache.spark.sql.SparkSession,
      path: String, takeover: Boolean = false): Unit = {
    val fs = StoreRoot.fs(spark, path)
    val nextDir = s"$path/base_next"
    if (AtomicBatches.committedDirs(spark, s"$path/batches").isEmpty &&
        !AtomicBatches.maintenanceActive(spark, path) &&
        !fs.exists(new org.apache.hadoop.fs.Path(nextDir))) return
    StoreRoot.maintain(spark, path, takeover, "trianglesIndexCompact",
        "trianglesIndexWrite") { root =>
      val committed = fs.exists(
        new org.apache.hadoop.fs.Path(s"$nextDir/_COMMIT"))
      if (!committed) {
        // no committed stage: the old state is intact — (re)compute it.
        // The two folds are independent reads of the same immutable
        // base + batches, invisible until the _COMMIT below — concurrent
        // (the CountStore.compactSwap stage-build judgment)
        fs.delete(new org.apache.hadoop.fs.Path(nextDir), true)
        Takedown.inParallel(Seq[() => Unit](
          () => indexEdges(root)
            .write.parquet(s"$nextDir/edges"),
          () => indexCounts(root)
            .groupBy("id").agg(sum(col("d_triangles")).as("d_triangles"))
            .filter(col("d_triangles") =!= 0L)
            .write.parquet(s"$nextDir/counts")))(_.apply())
        AtomicBatches.commit(spark, nextDir)
      }
      // idempotent swap: any crash point here is re-runnable verbatim
      // (rename-based — see AtomicBatches.swapCommittedStage: the stage
      // is the final folded form, re-writing it pays the fold twice)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/batches"), true)
      AtomicBatches.swapCommittedStage(spark, path, nextDir,
        Seq("edges", "counts"))
    }
  }

  /** The index's full edge set. Append-only history is a plain union
    * (the fast path — no fold appears until a deletion exists); once
    * any committed batch carries a `removals` table, edge membership
    * folds in BATCH ORDER: per canonical (a, b), the latest operation
    * wins (add = present, removal = absent; the base ranks as batch
    * −1), so a re-added edge after a deletion is present and a deletion
    * after a re-add is absent — the cellsCurrent recency discipline on
    * edges.
    */
  private def indexEdges(root: StoreRoot): DataFrame = {
    // committed batches only: an uncommitted directory is a crashed
    // append attempt, invisible to every reader and swept by the next
    val dirs = root.committed("batches")
    val batch = dirs.map(d => d.split('/').last)
    // fast/slow split on one fs.exists per batch dir — building (and
    // discarding) per-dir DataFrames just to ask "any removals?" paid
    // 2N schema inferences on every probe of the 99% append-only case
    if (!batch.exists(n => root.has(s"batches/$n/removals")))
      // append-only history: every committed batch has an edges table
      root.read("edges", dirs)
    else {
      val parts = batch.map { n =>
        (n.toLong, root.side(s"batches/$n/edges"),
          root.side(s"batches/$n/removals"))
      }
      def shape(df: DataFrame, n: Long, present: Boolean): DataFrame =
        df.select(col("a"), col("b"), lit(n).as("__n"),
          lit(present).as("__p"))
      val all = (Seq(shape(root.read("edges"), -1L, present = true)) ++
        parts.flatMap { case (n, adds, rems) =>
          adds.map(shape(_, n, present = true)).toSeq ++
            rems.map(shape(_, n, present = false)).toSeq
        }).reduce(_ unionByName _)
      all.groupBy(col("a"), col("b"))
        .agg(max_by(col("__p"), col("__n")).as("__p"))
        .filter(col("__p")).select(col("a"), col("b"))
    }
  }

  /** The index's per-batch count deltas, folded by the readers with
    * exact integer sums (order-invariant): base ∪ committed batches.
    */
  private def indexCounts(root: StoreRoot): DataFrame =
    root.read("counts", root.committed("batches"))

  /** AUDIT face: the node ids the index's current edge set still
    * touches, as one `id` column — after [[trianglesIndexDeleteNodes]]
    * a forgotten node appears in NO surviving edge, so it is absent
    * here ([[graft.operators.Takedown.audit]]'s triangles row).
    */
  def trianglesPresentNodes(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    indexEdges(trianglesRoot(spark, path, "trianglesPresentNodes"))
      .select(explode(array(col("a"), col("b"))).as("id")).distinct()

  private val trianglesRoot = StoreRoot.of("trianglesIndexWrite")

  /** Per-vertex triangle counts from a persisted index: every vertex of
    * the stored edge set, zeros included — the same contract as
    * [[triangles]], without a recount.
    */
  def trianglesFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    trianglesOf(trianglesRoot(spark, path, "trianglesFromIndex"))

  private def trianglesOf(root: StoreRoot): DataFrame = {
    val e = indexEdges(root)
    val cnt = indexCounts(root)
      .groupBy("id").agg(sum(col("d_triangles")).as("triangles"))
    e.select(explode(array(col("a"), col("b"))).as("id")).distinct()
      .join(cnt, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Local clustering coefficients from a persisted
    * [[trianglesIndexWrite]] index — [[clusteringCoefficients]]' exact
    * output (same normalization, same round-6) with the triangle counts
    * folded from the index instead of recounted: the maintained-index
    * face of the second graph prior for free, since the coefficient is
    * pure per-vertex arithmetic over (triangles, degree) and the degree
    * is one edge-sized aggregation over the stored edge table.
    *
    * The remaining graph priors keep a REBUILD stance, documented at
    * [[kCore]]/[[pageRank]]: peel and walk fixpoints cascade globally
    * under edge appends (one new edge can shift every coreness /
    * every rank), so there is no touched-neighborhood locality to
    * exploit — unlike triangles, where a new edge's effect is exactly
    * the wedges through it.
    */
  def clusteringCoefFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val root = trianglesRoot(spark, path, "clusteringCoefFromIndex")
    val deg = indexEdges(root)
      .select(explode(array(col("a"), col("b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    trianglesOf(root).join(deg, Seq("id"))
      .select(col("id"), col("triangles"), col("deg"),
        round(when(col("deg") >= 2,
          lit(2.0) * col("triangles") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)), 6).as("coef"))
  }

  // the result reads two frames pinned in the caller's scope `f`
  private def trianglesCanonical(f: Frames, e0: DataFrame): DataFrame = {
    val deg = f.checkpoint( // orientation (twice) + zero-fill read it
      e0.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg")))
    val ed = e0
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
    val aFirst = struct(col("da"), col("a")) < struct(col("db"), col("b"))
    // (s → t, with t's degree carried so wedge pairs order WITHOUT a
    // further degree join)
    val o = f.checkpoint(ed.select(
        when(aFirst, col("a")).otherwise(col("b")).as("s"),
        when(aFirst, col("b")).otherwise(col("a")).as("t"),
        when(aFirst, col("db")).otherwise(col("da")).as("dt")))
    val x = o.select(col("s"), col("t").as("v"), col("dt").as("dv"))
    val y = o.select(col("s"), col("t").as("w"), col("dt").as("dw"))
    val wedges = x.join(y, Seq("s"))
      .filter(struct(col("dv"), col("v")) < struct(col("dw"), col("w")))
      .select(col("s").as("u"), col("v"), col("w"))
    val closed = wedges.join(
      o.select(col("s").as("v"), col("t").as("w")), Seq("v", "w"))
    val cnt = closed
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.select("id").join(cnt, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
  }
}
