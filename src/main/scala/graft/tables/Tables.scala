package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.Frames

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * All reads go through `spark.read.parquet` so Catalyst pushes filters
  * and prunes columns into the scan — at 100 TB these tables would be
  * partitioned directories and the same code path applies.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Generic file source: parquet/csv/json/orc behind one entry point
    * (SURVEY §2.3 sources row). CSV/JSON take an explicit schema so the
    * scan never pays a driver-side inference pass — at 100 TB inference
    * would read the data twice.
    */
  def loadFormat(spark: SparkSession, path: String, format: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      options: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format(format).options(options)
    schema.fold(r)(r.schema).load(path)
  }

  /** Whole-file binary ingestion (`binaryFile` source) — the raw side of
    * the multimodal pipeline: each row is (path, modificationTime,
    * length, content) and feeds `Multimodal.decodeFeatures` et al.
    * `pathGlobFilter` prunes by extension BEFORE reading file contents;
    * at 100 TB list+prune is the difference between a metadata operation
    * and a full scan.
    */
  def loadBinaryFiles(spark: SparkSession, path: String,
      globFilter: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    globFilter.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Line-oriented text source — one string column `value` per line,
    * the rawest document-corpus ingestion path (`wholetext=true` gives
    * one row per file instead).
    */
  def loadText(spark: SparkSession, path: String,
      wholeFile: Boolean = false): DataFrame =
    spark.read.option("wholetext", wholeFile.toString).text(path)

  /** Hive-style partitioned parquet write — the 100 TB layout: a filter
    * on the partition column prunes whole directories before any file is
    * opened (shows as PartitionFilters in the scan; asserted in
    * PlanShapeSpec).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Range-clustered parquet write — the poor-man's Z-order: rows are
    * range-partitioned then sorted on `clusterCols`, so each output file
    * covers a narrow, non-overlapping slice of the key space and parquet
    * row-group min/max statistics prune files on any range or point
    * filter over those columns. At 100 TB this is the difference between
    * "open every file" and "open the two files that can match".
    * (Table formats with real multi-dimensional clustering — Delta
    * Z-order, Iceberg sort orders — replace this at deploy time; the
    * write shape is identical.)
    */
  def writeClustered(df: DataFrame, path: String, clusterCols: Seq[String],
      numFiles: Int): Unit = {
    val keys = clusterCols.map(col)
    df.repartitionByRange(numFiles, keys: _*)
      .sortWithinPartitions(keys: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Shared Morton-key core: min-max bucket each key to `bitsPerCol`
    * bits over its declared [lo, hi) range (values outside clamp to the
    * edge buckets), then interleave — for bit k, column 0's bit lands
    * ABOVE column 1's, etc., so earlier columns are the coarser
    * dimension within each bit group. ONE native expression
    * ([[graft.functions.ZValueN]]): the pure-Column tree (bits×cols
    * copies of the bucket subexpression under the NULL-contract `when`)
    * overran codegen and interpreted the bucket per BIT — q_zorder
    * measured 0.53 → 4.5 s at sf0.1 before this. Arithmetic is
    * byte-identical to the Column form and the DuckDB oracle replay.
    * NULL in ANY key column → NULL z: NULL coordinates carry no
    * position, so clamping them to bucket 0 (what raw floor/greatest
    * would do) would silently co-locate NULL rows with genuine low-edge
    * values; NULL z range-sorts into one edge file instead.
    */
  private def zInterleave(keys: Seq[(Column, Double, Double)],
      bitsPerCol: Int): Column =
    org.apache.spark.sql.graft.Bridge.column(graft.functions.ZValueN(
      keys.map { case (c, _, _) =>
        org.apache.spark.sql.graft.Bridge.expression(c.cast("double")) },
      bitsPerCol, keys.map(_._2), keys.map(_._3)))

  /** Morton (Z-order) key of two numeric columns at 16 bits each (the
    * `q_zorder` oracle replays exactly this shape). Nearby (a, b) pairs
    * get nearby z-values, so range-clustering on z gives BALANCED file
    * pruning on BOTH columns, where lexicographic
    * `writeClustered(Seq(a, b))` prunes only on `a` (every file spans
    * b's full range). NULL in either column → NULL z (sorts first, one
    * edge file).
    */
  def zValue2(a: Column, aLo: Double, aHi: Double,
      b: Column, bLo: Double, bHi: Double): Column = {
    require(aHi > aLo && bHi > bLo, "empty z-order range")
    zInterleave(Seq((a, aLo, aHi), (b, bLo, bHi)), 16)
  }

  /** N-column Morton key — real tables cluster on 3-4 keys, not 2.
    * ⌊48/n⌋ bits per column (n=3 → 16 bits each, n=4 → 12), keeping the
    * full key under 48 bits so it stays an exact Long AND an exact
    * DOUBLE (oracle engines without 64-bit integer shifts replay it
    * losslessly). Same clamp and NULL contract as [[zValue2]].
    */
  def zValueN(keys: Seq[(Column, Double, Double)]): Column = {
    val n = keys.size
    require(n >= 2, "zValueN needs at least 2 key columns")
    val bits = 48 / n
    require(bits >= 1, s"too many z-order columns ($n)")
    keys.foreach { case (_, lo, hi) => require(hi > lo, "empty z-order range") }
    zInterleave(keys, bits)
  }

  /** [[writeClustered]] on the [[zValueN]] key: each output file covers
    * a narrow z-range, i.e. a small tile of the n-dimensional key space —
    * parquet row-group min/max statistics then prune files for filters
    * on ANY clustered column (Delta Z-ORDER / Iceberg z-sort write
    * shape).
    */
  def writeZOrderedN(df: DataFrame, path: String,
      keys: Seq[(String, Double, Double)], numFiles: Int): Unit =
    df.withColumn("__z", zValueN(keys.map { case (c, lo, hi) => (col(c), lo, hi) }))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Two-column [[writeZOrderedN]] on the 16-bit [[zValue2]] key (kept
    * for the established call shape and oracle).
    */
  def writeZOrdered(df: DataFrame, path: String,
      a: String, aLo: Double, aHi: Double,
      b: String, bLo: Double, bHi: Double, numFiles: Int): Unit =
    df.withColumn("__z", zValue2(col(a), aLo, aHi, col(b), bLo, bHi))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Targeted delete over a Hive-partitioned table (GDPR /
    * right-to-be-forgotten maintenance): remove every row matching
    * `predicate`, rewriting ONLY the partitions that contain matches —
    * at 100 TB, deleting one user must not rewrite the table.
    *
    * Shape: one filtered scan finds the affected partition values
    * (driver-bounded: ≤ #partitions touched); those partitions are
    * re-written minus the matches — via dynamic partition overwrite of
    * a checkpointed kept set when FEW partitions are touched, or via a
    * stage-to-`_staged`-and-swap when at least `stagedFraction` of the
    * table's partitions are (the checkpoint tier must not be asked to
    * hold most of a 100 TB table; see [[deleteRewriteDetail]]).
    * Partitions left EMPTY by the delete are removed explicitly
    * (dynamic overwrite only replaces partitions present in the new
    * output — an all-deleted partition would otherwise survive intact).
    * Untouched partitions' files are never opened for write. Returns the
    * number of rows deleted.
    *
    * Same non-atomicity note as [[compact]]: a table format's commit
    * protocol fronts this in production; the rewrite shape is identical.
    */
  def deleteMatching(spark: SparkSession, path: String,
      partitionCol: String, predicate: Column,
      stagedFraction: Double = 0.5): Long =
    // keep every row where the predicate is NOT TRUE: a bare
    // `!predicate` drops NULL-evaluating rows too (three-valued logic) —
    // rows neither counted as deleted nor kept, silent data loss in a
    // GDPR utility. coalesce(p, false) makes "delete" mean strictly
    // "predicate is true".
    deleteRewrite(spark, path, partitionCol,
      df => df.filter(coalesce(predicate, lit(false))),
      df => df.filter(!coalesce(predicate, lit(false))), stagedFraction)

  /** [[deleteMatching]] for a victim DataFrame: delete every row whose
    * `idCol` appears in `victims` (same column name on both sides; both
    * compared as long). The affected-partition discovery and the
    * rewrite filter are both semi/anti joins against the victim frame,
    * so a request carrying millions of ids stays a three-join plan
    * instead of a million-literal `isin` predicate compiled into it.
    * The `broadcast()` hint is COUNT-GATED: the victim frame is
    * checkpointed anyway, so one count on it decides — below
    * `spark.sql.autoBroadcastJoinThreshold / 8` bytes-per-long ids the
    * hint pins the hash-broadcast plan (a checkpointed LogicalRDD has
    * no size statistics, so without the hint the optimizer would
    * pessimistically shuffle even a 50k-id request); beyond it the
    * hint is DROPPED and the optimizer shuffles both sides — a
    * victim frame past broadcast range must never be materialized on
    * the driver as a broadcast relation. Returns the number of rows
    * deleted.
    */
  def deleteMatching(spark: SparkSession, path: String,
      partitionCol: String, victims: DataFrame, idCol: String): Long =
    deleteMatching(spark, path, partitionCol, victims, idCol,
      stagedFraction = 0.5)

  /** [[deleteMatching]] (victim-frame face) with an explicit staged-swap
    * fraction — a separate overload because Scala allows the default
    * only on one of the two same-named faces (the predicate one).
    */
  def deleteMatching(spark: SparkSession, path: String,
      partitionCol: String, victims: DataFrame, idCol: String,
      stagedFraction: Double): Long = {
    Frames.scoped { f =>
      // read by the discovery AND the rewrite
      val v = f.checkpoint(
        victims.select(col(idCol).cast("long").as("__vid")).distinct())
      val (matches, keep) = victimDeletePlans(idCol, v, v.count())
      deleteRewrite(spark, path, partitionCol, matches, keep, stagedFraction)
    }
  }

  // the two sides of a victim delete, as a testable seam: rows to drop
  // (semi join) and rows to keep (anti join) — joins on the distinct'd
  // victim frame, never an inlined literal list. `nVictims` gates the
  // broadcast hint: one distinct long id costs ~8 bytes in the
  // broadcast relation, so the session's autoBroadcastJoinThreshold
  // divided by 8 is the largest request the planner itself would ever
  // broadcast — beyond it (or with auto-broadcast disabled) the hint
  // is omitted and the join shuffles.
  private[graft] def victimDeletePlans(idCol: String, v: DataFrame,
      nVictims: Long): (DataFrame => DataFrame, DataFrame => DataFrame) = {
    val thresholdBytes = org.apache.spark.sql.graft.Bridge
      .autoBroadcastJoinThreshold(v.sparkSession)
    val side = if (thresholdBytes > 0 && nVictims <= thresholdBytes / 8)
      broadcast(v) else v
    (df => df.join(side, df(idCol).cast("long") === v("__vid"),
      "left_semi"),
     df => df.join(side, df(idCol).cast("long") === v("__vid"),
      "left_anti"))
  }

  // shared rewrite core of both deleteMatching faces: `matches` selects
  // the rows to delete (for partition discovery + the deleted count),
  // `keep` its complement (the rewrite) — the two must partition each
  // touched partition's rows exactly
  private def deleteRewrite(spark: SparkSession, path: String,
      partitionCol: String, matches: DataFrame => DataFrame,
      keep: DataFrame => DataFrame, stagedFraction: Double): Long =
    deleteRewriteDetail(spark, path, partitionCol, matches, keep,
      stagedFraction)._1

  /** [[deleteRewrite]] exposing WHICH rewrite strategy ran (the second
    * element: true = staged swap) — the testable seam for the
    * fraction gate. Two strategies, both rewriting ONLY victim-touched
    * partitions:
    *
    *  - SMALL fraction (< `stagedFraction` of the table's partitions):
    *    eager localCheckpoint of the kept rows, then dynamic partition
    *    overwrite in place. The checkpoint materializes the kept rows
    *    and cuts the plan's lineage to `path`, so the write neither
    *    re-reads files mid-replacement nor trips Spark's
    *    cannot-overwrite-a-read-path analysis — but it holds the kept
    *    rows in the cluster's storage tier, which is exactly wrong
    *    when the delete touches MOST of a 100 TB table.
    *  - LARGE fraction: stage the kept rows to `path/_staged` (an
    *    underscore directory — invisible to Spark's file index, so the
    *    write target is disjoint from the read path and NO checkpoint
    *    is needed; same filesystem, so the swap is metadata renames),
    *    then per touched partition delete the live directory and
    *    rename the staged one in ([[compact]]'s write-aside-then-swap
    *    shape). Emptied partitions have no staged directory — their
    *    live-directory delete IS the swap.
    *
    * Same non-atomicity note as [[compact]] — a crash mid-swap leaves
    * some partitions swapped and some not (a table format's commit
    * protocol fronts this in production) — but the state is
    * mechanically recoverable and [[recoverStagedSwap]] does so before
    * every rewrite: no data is lost in any crash window (a deleted
    * live directory always has its completed staged twin).
    */
  private[graft] def deleteRewriteDetail(spark: SparkSession, path: String,
      partitionCol: String, matches: DataFrame => DataFrame,
      keep: DataFrame => DataFrame,
      stagedFraction: Double): (Long, Boolean) = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStagedSwap(fs, root, partitionCol)
    val df = spark.read.parquet(path)
    // `input_file_name()` is attached AT THE SCAN (before `matches` —
    // after a shuffle join it would evaluate to "") and one file per
    // affected partition rides the discovery aggregate: the partition's
    // ON-DISK directory name comes from a real file path instead of
    // being re-derived from the value, whose string form can diverge
    // from Spark's own partition-path formatting (timestamps render
    // differently under String.valueOf; a name-constructed swap would
    // silently miss those directories)
    val affected = matches(df.withColumn("__fn",
        org.apache.spark.sql.functions.input_file_name()))
      .groupBy(partitionCol).agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("__n"),
        org.apache.spark.sql.functions.first(col("__fn")).as("__f"))
      .collect()
    if (affected.isEmpty) return (0L, false)
    val deleted = affected.map(_.getAs[Long]("__n")).sum
    val partValues = affected.map(_.get(0))
    // value → on-disk partition directory name (URL-decoded from the
    // sampled file path; the layout is exactly one partition level)
    val dirNames: Seq[String] = affected.map { r =>
      val name = org.apache.spark.paths.SparkPath
        .fromUrlString(r.getAs[String]("__f")).toPath.getParent.getName
      require(name.startsWith(s"$partitionCol="),
        s"unexpected partition layout: file parent '$name' does not " +
        s"start with '$partitionCol=' — deleteMatching requires a " +
        "single-level Hive-partitioned table")
      name
    }.toSeq
    // a NULL partition value is a real Hive partition
    // (__HIVE_DEFAULT_PARTITION__), but `isin` never matches NULL
    // (three-valued logic) — without the explicit isNull arm its
    // matches would be COUNTED as deleted yet never rewritten, a
    // silent non-delete in a GDPR utility
    val (nullParts, nonNullParts) = partValues.partition(_ == null)
    val inNonNull = col(partitionCol).isin(nonNullParts: _*)
    val touched = df.filter(
      if (nullParts.isEmpty) inNonNull
      else if (nonNullParts.isEmpty) col(partitionCol).isNull
      else inNonNull || col(partitionCol).isNull)
    val kept = keep(touched)
    // total partition count is a LIST call, not a scan: the fraction
    // gate must not cost a job
    val totalParts = fs.listStatus(root).count(st =>
      st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol="))
    if (totalParts > 0 && partValues.length >= stagedFraction * totalParts) {
      stagedSwap(fs, root, partitionCol, dirNames, kept)
      (deleted, true)
    } else {
      val stillThere = Frames.scoped { f =>
        val cp = f.checkpoint(kept)
        cp.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partitionCol)
          .parquet(path)
        // partitions the delete emptied never appear in the output
        cp.select(partitionCol).distinct().collect().map(_.get(0)).toSet
      }
      partValues.zip(dirNames).collect {
        case (v, name) if !stillThere.contains(v) =>
          fs.delete(new org.apache.hadoop.fs.Path(root, name), true)
      }
      (deleted, false)
    }
  }

  // the large-fraction rewrite: write the kept rows of the touched
  // partitions aside under the table root, then swap directories with
  // metadata renames. The staged write's lineage reads `path`'s files
  // while writing under `path/_staged` — disjoint paths, so no
  // checkpoint materialization and no read-path-overwrite conflict;
  // the underscore prefix keeps the stage invisible to every reader of
  // `path` until its partition is renamed in whole. `dirNames` are the
  // ON-DISK names of the touched partitions (file-derived — the staged
  // write formats values identically, so staged child names match).
  private def stagedSwap(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, partitionCol: String,
      dirNames: Seq[String], kept: DataFrame): Unit = {
    val staged = new org.apache.hadoop.fs.Path(root, "_staged")
    kept.write.mode("overwrite").partitionBy(partitionCol)
      .parquet(staged.toString)
    dirNames.foreach { name =>
      val live = new org.apache.hadoop.fs.Path(root, name)
      val src = new org.apache.hadoop.fs.Path(staged, name)
      fs.delete(live, true)
      // a partition the delete EMPTIED has no staged dir: the live
      // delete above is its whole swap
      if (fs.exists(src) && !fs.rename(src, live))
        throw new java.io.IOException(
          s"staged-swap rename $src -> $live failed; the staged copy " +
          "is intact — re-running the delete recovers")
    }
    fs.delete(staged, true)
  }

  // A staged swap that crashed mid-flight leaves `_staged` behind, and
  // the state is mechanically recoverable: a partition dir present
  // under `_staged` whose live twin is MISSING was deleted-but-not-yet-
  // renamed — rename it in (the staged write completed before any swap
  // began, so its content is the crashed request's exact post-delete
  // state for that partition); one whose live twin EXISTS was never
  // swapped — discard it (a re-run recomputes). Runs before EVERY
  // rewrite so a crashed swap cannot silently hide partitions from
  // later reads of the rewritten table.
  private def recoverStagedSwap(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, partitionCol: String): Unit = {
    val staged = new org.apache.hadoop.fs.Path(root, "_staged")
    if (!fs.exists(staged)) return
    fs.listStatus(staged).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith(s"$partitionCol=")) {
        val live = new org.apache.hadoop.fs.Path(root, st.getPath.getName)
        if (!fs.exists(live) && !fs.rename(st.getPath, live))
          throw new java.io.IOException(
            s"staged-swap recovery rename ${st.getPath} -> $live failed")
      }
    }
    fs.delete(staged, true)
  }

  /** Small-file compaction — the standard maintenance pass: streaming
    * sinks and fine-grained partitions accrete kilobyte files whose
    * per-file open/footer cost eventually dominates scans. Rewrites the
    * dataset into `ceil(rows / rowsPerFile)` files via `tmpPath`, then
    * swaps with filesystem renames.
    *
    * NOT atomic: there is a metadata-only window between removing `path`
    * and renaming the compacted copy into place; a crash there leaves
    * the data intact in `tmpPath` (nothing is deleted until the rename
    * source exists and is complete) but `path` briefly missing. Real
    * deployments put a table format (Delta/Iceberg commit) or a catalog
    * pointer-swap in front of this; the rewrite shape is identical.
    */
  def compact(spark: SparkSession, path: String, tmpPath: String,
      rowsPerFile: Long): Unit = {
    require(rowsPerFile > 0, "rowsPerFile must be positive")
    val df = spark.read.parquet(path)
    val n = df.count()
    val files = math.max(1L, (n + rowsPerFile - 1) / rowsPerFile).toInt
    df.repartition(files).write.mode("overwrite").parquet(tmpPath)
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(tmpPath)
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(conf)
    if (!fs.delete(dst, true)) throw new java.io.IOException(s"could not remove $dst")
    if (!fs.rename(src, dst)) throw new java.io.IOException(
      s"rename $src -> $dst failed; compacted data remains at $src")
  }

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** `events.parquet` carries a nanosecond-precision timestamp, written by
    * pandas/pyarrow. Spark's parquet reader may surface INT64
    * TIMESTAMP(NANOS) either as TimestampType (truncated to micros) or —
    * with `spark.sql.legacy.parquet.nanosAsLong=true` — as LongType nanos.
    * Normalize to a microsecond TimestampType column `ts` either way so
    * downstream operators and the DuckDB oracle (`ts::TIMESTAMP`, also a
    * truncation to micros) agree.
    *
    * SIDE EFFECT: this flips `spark.sql.legacy.parquet.nanosAsLong` for
    * the whole session (without it Spark refuses TIMESTAMP(NANOS)
    * parquet outright, and the conf is consulted during execution, so a
    * set-read-restore dance is unsafe). Any LATER nanos-timestamp
    * parquet read in the session will surface LongType nanos — route
    * such reads through this normalizer too.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        // integral `div`, NOT `/`: ns epochs (~1.7e18) overflow double's
        // 53-bit mantissa, so float division would corrupt low digits
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _ => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** The reference's canonical message shape {key: string, value: string,
    * num} (FIXTURES.md §1, reference loadTest.js:57-61), derived from the
    * events table so pipeline operators run over driver-provided data.
    */
  def messages(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id").cast("string").as("key"),
      col("event_type").as("value"),
      col("user_id").as("num"))
}
