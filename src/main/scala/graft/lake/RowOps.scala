package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Row-level lake mutations: keyed MERGE (upsert) and predicate DELETE.
  *
  * The reference mutates datasets only at append/overwrite granularity
  * (`/root/reference/src/pydala/dataset/writer.py:113-124`); production
  * lakes additionally need "update these keys" (CDC absorption, metadata
  * corrections) and "delete these rows" (takedowns, GDPR) without paying
  * a full-table rewrite. Both operators here rewrite ONLY the data files
  * that physically contain affected rows — the copy-on-write shape of
  * Delta Lake's MERGE/DELETE — so cost scales with the touched-file
  * count, not the dataset:
  *
  *  1. CANDIDATES: when the `_stats` manifest is trusted and covers the
  *     key/predicate columns, the file listing itself is range-pruned
  *     first ([[FileStats.candidatesForBounds]]) — on ingest-ordered or
  *     z-ordered layouts the candidate set is a sliver of the lake.
  *  2. TOUCHED: one column-pruned scan of the candidates tags rows with
  *     `input_file_name()` and semi-joins the batch keys (broadcast) /
  *     applies the predicate; only files holding at least one affected
  *     row are rewritten. The collect is bounded by the file count —
  *     the same scale class as the listing Spark does to plan any scan.
  *  3. SWAP: survivors + replacements are packed into the hidden
  *     `_compact_tmp` staging dir and swapped in under [[Compact]]'s
  *     crash-safe manifest protocol (packed files rename in FIRST, old
  *     files delete after; [[Compact.recoverTmp]] — which
  *     `TimeFly.vacuum` already routes this dir through — converges any
  *     crash point, so the tmp is never the only copy).
  *
  * Untouched files are never opened, let alone rewritten — specs assert
  * byte-identity. Standing indexes (`_keys`/`_shingles`/`_stats`) are
  * invalidated up front: values change under both operators, and the
  * trust protocol makes a missing index a fallback, never a wrong one.
  *
  * Contracts (documented like the reference's write modes): upsert /
  * deleteWhere operate on unpartitioned parquet datasets (file-granular
  * rewrites); hive layouts take [[upsertPartitioned]] — PARTITION-
  * granular copy-on-write via dynamic partition overwrite, the d28
  * label-table protocol. The upsert batch carries the dataset's columns
  * and key-unique rows; one mutator at a time (shared staging dir, same
  * as Compact).
  */
object RowOps {

  final case class Stats(filesTotal: Int, filesTouched: Int)

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A parquet reader for this verb's scans: when every file under the
    * dataset records the same footer schema, each `spark.read` plans
    * with that schema EXPLICITLY — zero schema-inference jobs — instead
    * of paying one 1-task footer job PER read (a verb reads the dataset
    * 3-5 times; on a metadata-bound lifecycle that is pure driver
    * overhead). Non-uniform or non-Spark footers keep the inference
    * path, byte-for-byte the old behavior. */
  private def readerFor(
      spark: SparkSession,
      files: Seq[String]): org.apache.spark.sql.DataFrameReader =
    SchemaTools.uniformFooterSchema(spark, files)
      .fold(spark.read)(s => spark.read.schema(s))

  private def requireFlat(spark: SparkSession, path: String): Unit =
    require(SchemaTools.inferPartitioning(spark, path) == "none",
      s"RowOps supports unpartitioned datasets; $path is partitioned — " +
        "use partition-granular dynamic overwrite for hive layouts")

  private def requireUnpinned(spark: SparkSession, path: String): Unit = {
    val pinned = TimeFly.pinnedFiles(spark, path)
    require(pinned.isEmpty,
      s"${pinned.size} data file(s) under $path are pinned by " +
        "manifest-only TimeFly snapshots; a row-level rewrite would " +
        "strand them. Materialize or delete those snapshots first")
  }

  /** Invalidate every standing index before data moves: a crash after
    * this point leaves readers on the full-scan fallback, never on a
    * trusted-but-wrong index. */
  private def dropIndexes(spark: SparkSession, path: String): Unit = {
    KeySidecar(spark, path).invalidate()
    ShingleSidecar(spark, path).invalidate()
    FileStats.invalidate(spark, path)
  }

  /** Rewrite `touched` files with `survivors` ∪ `replacement` under the
    * Compact swap protocol. `survivors` must derive from exactly the
    * touched files. */
  private def swapRewrite(
      spark: SparkSession,
      path: String,
      touched: Seq[String],
      merged: DataFrame
  ): Unit = {
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val tmp = new Path(root, "_compact_tmp")
    // heal a previous crash before staging anew (idempotent)
    Compact.recoverTmp(fs, tmp)
    merged.write.mode("overwrite")
      .option("compression", "zstd").parquet(tmp.toString)
    val packed = fs.listStatus(tmp)
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName).toSeq
    val oldNames = touched.map(f => new Path(f).getName)
    Compact.writeSwapManifest(fs, tmp, oldNames, packed)
    // recoverTmp IS the forward path: rename packed in, delete old,
    // drop the staging dir — and a crash anywhere inside re-enters the
    // identical routine on the next mutation or vacuum
    Compact.recoverTmp(fs, tmp)
  }

  /** `_stats` range prune on the mutation keys: candidate files whose
    * spans intersect the frame's typed per-key envelope
    * ([[FileStats.frameBounds]] — numeric/timestamp/date as doubles,
    * strings as prefix bounds; EVERY key column prunes independently).
    * Falls back to `all` whenever the manifest can't serve (no
    * span-domain key, all-null keys, untrusted/missing manifest). */
  private def pruneByKeyRange(
      spark: SparkSession,
      path: String,
      frame: DataFrame,
      keys: Seq[String],
      all: Seq[String]
  ): Seq[String] = {
    val bounds = FileStats.frameBounds(frame, keys)
    if (bounds.isEmpty) all
    else FileStats.candidatesForColBounds(spark, path, bounds)
      .getOrElse(all)
  }

  /** Append `rows` (data columns + `_change_type`) to the dataset's
    * change feed under `_changes/commit_version=<version>`. The version
    * lands BOTH in the directory name (so [[readChanges]] prunes whole
    * directories before any file is opened) and as a `_commit_version`
    * data column (so no hive-inference column can collide with user
    * data). Written BEFORE the data swap from the pre-mutation state
    * (still on disk), so a crash between feed and swap leaves an
    * at-least-once feed, never a missing entry. The `_`-prefixed root
    * is invisible to every data scan. */
  private def writeChanges(
      spark: SparkSession,
      path: String,
      version: Long,
      rows: DataFrame
  ): Unit =
    rows.withColumn("_commit_version", lit(version))
      .write.mode("overwrite").option("compression", "zstd")
      .parquet(s"$path/_changes/commit_version=$version")

  /** The change-data-feed: every row-level change recorded by a
    * [[upsert]]/[[deleteWhere]] call that passed `cdfVersion`, from
    * `fromVersion` (inclusive) on. Columns = the dataset's +
    * `_change_type` ('insert' | 'update_preimage' | 'update_postimage'
    * | 'delete') + `_commit_version`. The scan is partition-pruned to
    * the requested versions — consumers pay for the increment, not the
    * history. */
  def readChanges(
      spark: SparkSession,
      path: String,
      fromVersion: Long
  ): DataFrame = {
    val feed = new Path(s"$path/_changes")
    val fs = fsOf(spark, feed)
    val dirs = fs.listStatus(feed)
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith("commit_version="))
      .map(s => s.getPath.getName.stripPrefix("commit_version=").toLong ->
        s.getPath.toString)
      .filter(_._1 >= fromVersion)
      .sortBy(_._1).map(_._2)
    require(dirs.nonEmpty,
      s"no change-feed entries at version >= $fromVersion under $feed")
    // leaf dirs hold only data files, so no partition inference runs —
    // the version rides exclusively in the _commit_version column
    readerFor(spark,
        dirs.flatMap(d => SchemaTools.listDataFiles(spark, d)))
      .parquet(dirs: _*)
  }

  /** Keyed MERGE: rows of `batch` REPLACE target rows sharing their
    * `keys` tuple (update) and append otherwise (insert) — upsert with
    * last-writer-wins semantics, the absorb-a-CDC-batch primitive.
    *
    * 100 TB shape: the batch is the small side everywhere — its key set
    * broadcasts into the touch scan, candidate files come from the
    * `_stats` range prune when available, and the rewrite reads only
    * touched files. A batch whose keys are all new rewrites NOTHING and
    * degenerates to a plain append.
    *
    * `cdfVersion = Some(v)` additionally records the row-level changes
    * (pre/post images of updates, inserts) in the dataset's change feed
    * ([[readChanges]]) — the Delta-CDF shape, computed from frames the
    * merge already has in hand, so the only extra cost is one more pass
    * over the TOUCHED files. */
  def upsert(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keys: Seq[String],
      cdfVersion: Option[Long] = None
  ): Stats = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    requireFlat(spark, path)
    requireUnpinned(spark, path)
    val all = SchemaTools.listDataFiles(spark, path)
    val rd = readerFor(spark, all)
    val data = rd.parquet(path)
    require(batch.columns.sorted.sameElements(data.columns.sorted),
      s"upsert batch columns ${batch.columns.mkString(",")} must match " +
        s"dataset columns ${data.columns.mkString(",")}")
    val batchAligned = batch.select(data.columns.map(col): _*)
    val batchKeys = batchAligned.select(keys.map(col): _*).distinct()

    val candidates: Seq[String] =
      pruneByKeyRange(spark, path, batchAligned, keys, all)

    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        val scan = rd.parquet(candidates: _*)
          .select(keys.map(col) :+ input_file_name().as("__file"): _*)
        val cond = keys.map(k => scan(k) <=> batchKeys(k)).reduce(_ && _)
        SchemaTools.distinctStrings(
          scan.join(broadcast(batchKeys), cond, "left_semi"), "__file")
      }

    cdfVersion.foreach { v =>
      // matched keys live only in touched files by construction, so the
      // pre/post split is computed entirely from the touched scan
      val touchedRows =
        if (touched.isEmpty) data.limit(0)
        else rd.parquet(touched: _*)
      // matchedKeys shares lineage with both join sides below, so the
      // key columns are re-aliased to fresh attributes first — without
      // this the condition degenerates to a trivially-true self-compare
      val matchedKeys = batchKeys.join(
        touchedRows.select(keys.map(col): _*),
        keys.map(k => batchKeys(k) <=> touchedRows(k)).reduce(_ && _),
        "left_semi")
        .select(keys.map(k => col(k).as(s"__mk_$k")): _*)
      def keyCond(l: DataFrame) =
        keys.map(k => l(k) <=> matchedKeys(s"__mk_$k")).reduce(_ && _)
      val pre = touchedRows
        .join(broadcast(matchedKeys), keyCond(touchedRows), "left_semi")
        .withColumn("_change_type", lit("update_preimage"))
      val post = batchAligned
        .join(broadcast(matchedKeys), keyCond(batchAligned), "left_semi")
        .withColumn("_change_type", lit("update_postimage"))
      val ins = batchAligned
        .join(broadcast(matchedKeys), keyCond(batchAligned), "left_anti")
        .withColumn("_change_type", lit("insert"))
      writeChanges(spark, path, v, pre.unionByName(post).unionByName(ins))
    }
    dropIndexes(spark, path)
    if (touched.isEmpty) {
      // pure insert: nothing to rewrite, land the batch as an append
      batchAligned.write.mode("append")
        .option("compression", "zstd").parquet(path)
    } else {
      val touchedRows = rd.parquet(touched: _*)
      val cond =
        keys.map(k => touchedRows(k) <=> batchKeys(k)).reduce(_ && _)
      val survivors = touchedRows
        .join(broadcast(batchKeys), cond, "left_anti")
      swapRewrite(spark, path, touched,
        survivors.unionByName(batchAligned))
    }
    Stats(all.size, touched.size)
  }

  /** Keyed MERGE on a HIVE-partitioned dataset — partition-granular
    * copy-on-write: touched partitions are the distinct partition
    * tuples of rows whose keys match the batch PLUS the batch rows'
    * own tuples; their merged contents (survivors ∪ batch) rewrite via
    * Spark's dynamic partition overwrite (the d28 label-table
    * protocol — commit-safe, untouched partitions' files never
    * opened). Every touched partition keeps >= 1 row under upsert
    * semantics (updates preserve rows, inserts add them), so dynamic
    * overwrite covers the full touched set. `partitionCols` name the
    * hive layout (present as columns on the read side). */
  def upsertPartitioned(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String]
  ): Stats = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(partitionCols.nonEmpty,
      "upsertPartitioned needs the hive partition columns; use upsert " +
        "for flat datasets")
    require(keys.intersect(partitionCols).isEmpty,
      "partition columns cannot be merge keys (a key's partition value " +
        "change would strand the old row)")
    requireUnpinned(spark, path)
    val data = spark.read.option("basePath", path).parquet(path)
    require(batch.columns.sorted.sameElements(data.columns.sorted),
      s"upsert batch columns ${batch.columns.mkString(",")} must match " +
        s"dataset columns ${data.columns.mkString(",")}")
    val batchAligned = batch.select(data.columns.map(col): _*)
    val batchKeys = batchAligned.select(keys.map(col): _*).distinct()
    val keyCond =
      keys.map(k => data(k) <=> batchKeys(k)).reduce(_ && _)
    // touched partitions: where matched keys live + where batch rows go
    val touched = data
      .join(broadcast(batchKeys), keyCond, "left_semi")
      .select(partitionCols.map(col): _*)
      .unionByName(batchAligned.select(partitionCols.map(col): _*))
      .distinct()
    val nTouched = touched.count().toInt
    val partsTotal = data.select(partitionCols.map(col): _*)
      .distinct().count().toInt
    dropIndexes(spark, path)
    val touchedRows = data
      .join(broadcast(touched), partitionCols, "left_semi")
    val cond =
      keys.map(k => touchedRows(k) <=> batchKeys(k)).reduce(_ && _)
    val merged = touchedRows
      .join(broadcast(batchKeys), cond, "left_anti")
      .unionByName(batchAligned)
    SchemaTools.withSessionConf(spark,
      "spark.sql.sources.partitionOverwriteMode", "dynamic") {
      merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "zstd")
        .partitionBy(partitionCols: _*)
        .parquet(path)
    }
    Stats(partsTotal, nTouched)
  }

  /** Predicate DELETE: removes rows where `predicate` evaluates TRUE
    * (SQL DELETE semantics — false and NULL both survive), rewriting
    * only the files that hold at least one matching row. Range
    * conjuncts of the predicate prune the candidate listing through the
    * `_stats` manifest exactly like the declarative read path (q83). */
  def deleteWhere(
      spark: SparkSession,
      path: String,
      predicate: String,
      cdfVersion: Option[Long] = None
  ): Stats = {
    requireFlat(spark, path)
    requireUnpinned(spark, path)
    val all = SchemaTools.listDataFiles(spark, path)
    val rd = readerFor(spark, all)
    val hit = coalesce(expr(predicate), lit(false))
    val candidates = FileStats
      .candidatesForColBounds(spark, path,
        FileStats.typedBounds(spark, predicate))
      .getOrElse(all)
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else SchemaTools.distinctStrings(rd.parquet(candidates: _*)
        .filter(hit).select(input_file_name().as("__file")), "__file")
    cdfVersion.foreach { v =>
      val deleted =
        if (touched.isEmpty)
          rd.parquet(path).limit(0)
        else rd.parquet(touched: _*).filter(hit)
      writeChanges(spark, path, v,
        deleted.withColumn("_change_type", lit("delete")))
    }
    if (touched.nonEmpty) {
      dropIndexes(spark, path)
      val survivors = rd.parquet(touched: _*).filter(not(hit))
      swapRewrite(spark, path, touched, survivors)
    }
    Stats(all.size, touched.size)
  }

  /** Keyed DELETE: removes the rows whose `keys` tuple appears in
    * `keyBatch` — the CDC-delete primitive ([[deleteWhere]] is its
    * predicate sibling; change feeds carry keys, not predicates). Same
    * copy-on-write shape as [[upsert]]: candidates from the `_stats`
    * range prune, the key set broadcast into the touch scan, only
    * files holding a doomed row rewritten. */
  def deleteKeys(
      spark: SparkSession,
      path: String,
      keyBatch: DataFrame,
      keys: Seq[String],
      cdfVersion: Option[Long] = None
  ): Stats = {
    require(keys.nonEmpty, "deleteKeys needs at least one key column")
    requireFlat(spark, path)
    requireUnpinned(spark, path)
    val all = SchemaTools.listDataFiles(spark, path)
    val rd = readerFor(spark, all)
    val ks = keyBatch.select(keys.map(col): _*).distinct()
    val candidates = pruneByKeyRange(spark, path, ks, keys, all)
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        val scan = rd.parquet(candidates: _*)
          .select(keys.map(col) :+ input_file_name().as("__file"): _*)
        SchemaTools.distinctStrings(scan.join(broadcast(ks),
            keys.map(k => scan(k) <=> ks(k)).reduce(_ && _), "left_semi"),
          "__file")
      }
    cdfVersion.foreach { v =>
      val doomed =
        if (touched.isEmpty) rd.parquet(path).limit(0)
        else {
          val t = rd.parquet(touched: _*)
          t.join(broadcast(ks),
            keys.map(k => t(k) <=> ks(k)).reduce(_ && _), "left_semi")
        }
      writeChanges(spark, path, v,
        doomed.withColumn("_change_type", lit("delete")))
    }
    if (touched.nonEmpty) {
      dropIndexes(spark, path)
      val t = rd.parquet(touched: _*)
      val survivors = t.join(broadcast(ks),
        keys.map(k => t(k) <=> ks(k)).reduce(_ && _), "left_anti")
      swapRewrite(spark, path, touched, survivors)
    }
    Stats(all.size, touched.size)
  }

  // ---- merge-on-read deletes (the deletion-vector trade) ------------------

  /** MERGE-ON-READ keyed delete: instead of rewriting the files that
    * hold the doomed keys (the copy-on-write [[deleteKeys]]), record
    * the keys as a TOMBSTONE file under `_tombstones/` — an O(batch)
    * append that touches ZERO data files. This is the deletion-vector
    * trade every modern lake format offers: at 100 TB a point delete
    * must not pay a gigabyte file rewrite; readers subtract instead
    * ([[readMor]]) until [[applyTombstones]] folds the debt in one
    * copy-on-write pass. Tombstone files carry ONLY the key columns
    * (their schema IS the key list — readers need no side channel);
    * repeated deletes append, and deleting an already-dead key is a
    * read-time no-op, so the op is idempotent under replay. Standing
    * `_stats` spans stay valid as supersets (files unchanged); the
    * exact-key `_keys` sidecar keeps serving the PRE-delete key set —
    * conservative for dedup gates (a re-ingested deleted doc stays
    * deduplicated) — until the apply refreshes the lake. */
  def deleteKeysMor(
      spark: SparkSession,
      path: String,
      keyBatch: DataFrame,
      keys: Seq[String]
  ): Unit = {
    require(keys.nonEmpty, "deleteKeysMor needs at least one key column")
    requireFlat(spark, path)
    val existing = tombstoneKeys(spark, path)
    existing.foreach { prior =>
      require(prior.columns.sorted.toSeq == keys.sorted,
        s"tombstones at $path already use keys " +
          s"${prior.columns.mkString(", ")}")
    }
    keyBatch.select(keys.map(col): _*).distinct()
      .write.mode("append")
      .parquet(new Path(path, "_tombstones").toString)
  }

  /** The accumulated tombstone key set, None if there is none. */
  def tombstoneKeys(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    val tdir = new Path(path, "_tombstones")
    if (!fsOf(spark, tdir).exists(tdir)) return None
    val files = SchemaTools.listDataFiles(spark, tdir.toString)
    if (files.isEmpty) None
    else Some(readerFor(spark, files).parquet(tdir.toString).distinct())
  }

  /** On-disk bytes of the standing tombstone debt — what decides
    * whether the read-time key subtract may broadcast. */
  def tombstoneBytes(spark: SparkSession, path: String): Long = {
    val tdir = new Path(path, "_tombstones")
    if (!fsOf(spark, tdir).exists(tdir)) 0L
    else SchemaTools.bytesOf(spark,
      SchemaTools.listDataFiles(spark, tdir.toString))
  }

  /** The merge-on-read view: data minus the tombstoned keys (null-safe
    * key equality, matching [[deleteKeys]]). With no tombstones this
    * is the plain scan. The key side broadcasts only while the debt is
    * small ([[SchemaTools.broadcastIfUnder]]); a user who accumulates
    * unbounded tombstones without folding gets a shuffled anti-join,
    * never a driver OOM. */
  def readMor(spark: SparkSession, path: String): DataFrame = {
    val data =
      readerFor(spark, SchemaTools.listDataFiles(spark, path))
        .parquet(path)
    tombstoneKeys(spark, path) match {
      case None => data
      case Some(ts) =>
        data.join(
          SchemaTools.broadcastIfUnder(spark, ts,
            tombstoneBytes(spark, path)),
          ts.columns.map(k => data(k) <=> ts(k)).reduce(_ && _),
          "left_anti")
    }
  }

  /** Fold the tombstone debt: one copy-on-write [[deleteKeys]] pass
    * over the accumulated keys, then the tombstones clear. Crash-safe
    * by order — a crash between the fold and the clear leaves
    * tombstones for already-dead keys, which the next read or apply
    * treats as the no-op it is. */
  def applyTombstones(spark: SparkSession, path: String): Stats =
    tombstoneKeys(spark, path) match {
      case None => Stats(SchemaTools.listDataFiles(spark, path).size, 0)
      case Some(ts) =>
        val stats = deleteKeys(spark, path, ts, ts.columns.toSeq)
        fsOf(spark, new Path(path, "_tombstones"))
          .delete(new Path(path, "_tombstones"), true)
        stats
    }

  /** Apply a change feed to a replica — the downstream half of CDC
    * replication: versions in ascending order; within a version,
    * `update_postimage` + `insert` rows land as one [[upsert]] batch
    * and `delete` rows as one [[deleteKeys]] batch (a single upstream
    * mutation emits only one of the two, so there is no intra-version
    * ordering hazard; preimages are informational and skipped). A
    * replica seeded from the same initial state and fed every version
    * converges to the source byte-for-byte in CONTENT — and because
    * upsert/deleteKeys are idempotent, replaying a version is safe
    * (the at-least-once feed contract). The version list is collected
    * driver-side: it is the number of COMMITS, not rows. */
  def applyChanges(
      spark: SparkSession,
      path: String,
      changes: DataFrame,
      keys: Seq[String]
  ): Unit = {
    // ONE driver collect resolves both the version order and which
    // operation classes each version carries — the old per-version
    // isEmpty probes re-scanned the feed twice per version for a
    // yes/no the distinct pairs already answer (guide §1.2: don't
    // compute things twice). Bounded by versions × op kinds.
    val present = changes
      .select("_commit_version", "_change_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val dataCols = changes.columns
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    present.map(_._1).distinct.sorted.foreach { v =>
      val kinds = present.collect { case (`v`, k) => k }.toSet
      val batch = changes.filter(col("_commit_version") === v)
      if (kinds.contains("update_postimage") || kinds.contains("insert"))
        upsert(spark, path,
          batch
            .filter(col("_change_type")
              .isin("update_postimage", "insert"))
            .select(dataCols.map(col): _*),
          keys)
      if (kinds.contains("delete"))
        deleteKeys(spark, path,
          batch.filter(col("_change_type") === "delete")
            .select(keys.map(col): _*),
          keys)
    }
  }

  /** SCD Type-2 merge: history-preserving dimension maintenance. The
    * dataset carries `keys ++ attrs ++ (valid_from LONG, valid_to LONG
    * nullable, is_current BOOLEAN)`; `batch` carries `keys ++ attrs` —
    * the dimension's new truth for those keys as of `version`.
    *
    * Per batch key (against the single OPEN row per key, an invariant
    * this merge itself maintains):
    *  - no open row            → INSERT  (valid_from=version, open)
    *  - open row, attrs equal  → NO-OP   (re-delivered truth is free)
    *  - open row, attrs differ → CLOSE it (valid_to=version,
    *    is_current=false) + INSERT the new version — history kept
    *
    * 100 TB shape: identical to [[upsert]] — only files holding an open
    * row of a CHANGED key are rewritten (no-op and insert-only batches
    * rewrite nothing), candidates come from the `_stats` range prune,
    * the batch broadcasts everywhere, and closed history rows are never
    * touched again, so a dimension's long tail of history is write-cold
    * by construction. Attribute comparison is null-safe (`<=>`): a NULL
    * attr equals NULL, so re-delivering a NULL-valued truth is a no-op,
    * not an infinite re-versioning. */
  def scd2Merge(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keys: Seq[String],
      version: Long
  ): Stats = {
    require(keys.nonEmpty, "scd2Merge needs at least one key column")
    requireFlat(spark, path)
    requireUnpinned(spark, path)
    val meta = Seq("valid_from", "valid_to", "is_current")
    val all = SchemaTools.listDataFiles(spark, path)
    val rd = readerFor(spark, all)
    val data = rd.parquet(path)
    require(meta.forall(data.columns.contains),
      s"SCD2 dataset must carry ${meta.mkString(", ")}")
    val attrs = data.columns.toSeq.filterNot(c =>
      keys.contains(c) || meta.contains(c))
    require(batch.columns.sorted.sameElements((keys ++ attrs).sorted),
      s"scd2 batch columns ${batch.columns.mkString(",")} must be the " +
        s"dataset's keys+attrs ${(keys ++ attrs).mkString(",")}")
    val b = batch.select((keys ++ attrs).map(col): _*)

    // split the batch against the open rows: changed / new. The __hit
    // marker makes the left-join miss test exact even for all-NULL rows
    val open = data.filter(col("is_current"))
      .select((keys ++ attrs).map(col): _*)
      .withColumn("__hit", lit(true))
    def kCond(l: DataFrame, r: DataFrame) =
      keys.map(k => l(k) <=> r(k)).reduce(_ && _)
    val joined = b.as("b").join(open.as("t"),
      keys.map(k => col(s"b.$k") <=> col(s"t.$k")).reduce(_ && _),
      "left")
    val sameAttrs =
      if (attrs.isEmpty) lit(true)
      else attrs.map(a => col(s"b.$a") <=> col(s"t.$a")).reduce(_ && _)
    val hitFlag = col("t.__hit").isNotNull
    val changedKeys = joined.filter(hitFlag && !sameAttrs)
      .select(keys.map(k => col(s"b.$k").as(k)): _*).distinct()
    val newRows = joined.filter(!hitFlag)
      .select((keys ++ attrs).map(c => col(s"b.$c").as(c)): _*)
    val changedRows = joined.filter(hitFlag && !sameAttrs)
      .select((keys ++ attrs).map(c => col(s"b.$c").as(c)): _*)

    // files holding the OPEN row of a changed key
    val candidates = pruneByKeyRange(spark, path, b, keys, all)
    val touched: Seq[String] =
      if (candidates.isEmpty) Nil
      else {
        val scan = rd.parquet(candidates: _*)
          .filter(col("is_current"))
          .select(keys.map(col) :+ input_file_name().as("__file"): _*)
        SchemaTools.distinctStrings(scan.join(broadcast(changedKeys),
          kCond(scan, changedKeys), "left_semi"), "__file")
      }

    def versioned(rows: DataFrame): DataFrame = rows
      .withColumn("valid_from", lit(version))
      .withColumn("valid_to", lit(null).cast("long"))
      .withColumn("is_current", lit(true))
      .select(data.columns.map(col): _*)
    val incoming = versioned(changedRows.unionByName(newRows))

    dropIndexes(spark, path)
    if (touched.isEmpty) {
      // no open row changes: the merge is pure insert (or pure no-op)
      val ins = incoming.cache()
      if (!ins.isEmpty)
        ins.write.mode("append")
          .option("compression", "zstd").parquet(path)
      ins.unpersist()
    } else {
      val touchedRows = rd.parquet(touched: _*)
      val cur = touchedRows.filter(col("is_current"))
      val closing = cur.join(broadcast(changedKeys),
        kCond(cur, changedKeys), "left_semi")
        .withColumn("valid_to", lit(version))
        .withColumn("is_current", lit(false))
        .select(data.columns.map(col): _*)
      val kept = cur.join(broadcast(changedKeys),
          kCond(cur, changedKeys), "left_anti")
        .unionByName(touchedRows.filter(!col("is_current")))
      swapRewrite(spark, path, touched,
        kept.unionByName(closing).unionByName(incoming))
    }
    Stats(all.size, touched.size)
  }

  /** Quarantine a screened batch's rejects and return the accepted
    * side — the shared front half of the screened mutations below.
    * One row-local projection splits the batch ([[Expectations.screen]]
    * — no shuffle, no per-rule pass); rejects append to
    * `quarantinePath` carrying the violated rule names. */
  private def quarantine(
      batch: DataFrame,
      rules: Seq[Expectations.Rule],
      quarantinePath: String
  ): DataFrame = {
    val (accepted, quarantined) = Expectations.screen(batch, rules)
    val q = quarantined
      .withColumn("violated", concat_ws(",", col("violated")))
    if (!q.isEmpty)
      q.write.mode("append").option("compression", "zstd")
        .parquet(quarantinePath)
    accepted
  }

  /** Expectations-gated keyed MERGE — the CDC composition write-time
    * rules were missing: a change feed is exactly where malformed rows
    * arrive, and they must quarantine for triage, not corrupt the merge
    * or fatally reject the whole batch. Accepted rows take the normal
    * copy-on-write [[upsert]] (every file-touch bound intact — a
    * quarantined row's key is never matched, so its file is never
    * rewritten); rejects land at `quarantinePath` with the names of the
    * rules they violated. */
  def upsertScreened(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keys: Seq[String],
      rules: Seq[Expectations.Rule],
      quarantinePath: String,
      cdfVersion: Option[Long] = None
  ): Stats = {
    val accepted = quarantine(batch, rules, quarantinePath)
    if (accepted.isEmpty)
      Stats(SchemaTools.listDataFiles(spark, path).size, 0)
    else upsert(spark, path, accepted, keys, cdfVersion)
  }

  /** The SCD2 sibling: screened dimension feed — accepted rows version
    * through [[scd2Merge]], rejects quarantine. A quarantined update
    * leaves its key's current row OPEN (untouched), which is the
    * correct dimensional answer: the change was never accepted. */
  def scd2MergeScreened(
      spark: SparkSession,
      path: String,
      batch: DataFrame,
      keys: Seq[String],
      version: Long,
      rules: Seq[Expectations.Rule],
      quarantinePath: String
  ): Stats = {
    val accepted = quarantine(batch, rules, quarantinePath)
    if (accepted.isEmpty)
      Stats(SchemaTools.listDataFiles(spark, path).size, 0)
    else scd2Merge(spark, path, accepted, keys, version)
  }
}
