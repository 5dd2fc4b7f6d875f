package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Lazy dataset reader with schema unification and the declarative
  * drop/sort/distinct pipeline.
  *
  * Re-expresses `/root/reference/src/pydala/dataset/reader.py` Spark-first:
  * the reference's four materialization tiers (pyarrow dataset / pa.Table /
  * DuckDB relation / temp table, `reader.py:373-476`) collapse into one lazy
  * DataFrame; `df.cache()` + temp views subsume its table tiers.
  */
final case class LakeReader(
    spark: SparkSession,
    path: String,
    format: String = "parquet",
    pipeline: Pipeline = Pipeline(),
    filterExpr: Option[String] = None,
    unifySchemas: Boolean = false,
    nanosAsLong: Boolean = false
) {

  def drop(cols: String*): LakeReader =
    copy(pipeline = pipeline.drop(cols: _*))

  def distinct(): LakeReader = copy(pipeline = pipeline.distinctAll())

  def distinctOn(
      subset: Seq[String],
      keepLast: Boolean = false,
      presort: Option[SortSpec] = None
  ): LakeReader =
    copy(pipeline = pipeline.distinctOn(subset, keepLast, presort))

  def sort(cols: Seq[String], ascending: Seq[Boolean] = Nil): LakeReader =
    copy(pipeline = pipeline.sortBy(cols, ascending))

  /** Arbitrary SQL predicate on read (`reader.py:336-337`). */
  def filter(expr: String): LakeReader = copy(filterExpr = Some(expr))

  /** Retry-with-unified-schema behavior of `reader.py:186-188,228-230`,
    * made explicit: opt in when fragments are schema-heterogeneous. */
  def unified(): LakeReader = copy(unifySchemas = true)

  /** Tolerate parquet TIMESTAMP(NANOS) columns (Spark has no nanosecond
    * TimestampType — they surface as long nanos; truncate-divide to
    * micros downstream, see Tables.events). The conf is scoped to scan
    * resolution: set, resolve, restored — never left on the session. */
  def nanosTolerant(): LakeReader = copy(nanosAsLong = true)

  /** The lazy scan with the pipeline applied (drop -> distinct -> sort).
    * When the dataset carries a trusted `_stats` manifest and the filter
    * has extractable range conjuncts, the scan's FILE LISTING is pruned
    * to span-intersecting files first ([[FileStats]]) — the residual
    * predicate is always re-applied, so an untrusted or absent manifest
    * only costs the pruning, never correctness. */
  def load(): DataFrame = {
    val base =
      if (nanosAsLong)
        SchemaTools.withSessionConf(
          spark, "spark.sql.legacy.parquet.nanosAsLong", "true")(loadBase())
      else loadBase()
    // The dataset's LOGICAL surface assembles here, before the user's
    // filter: merge-on-read tombstones subtract (RowOps.deleteKeysMor
    // — unapplied deletes must not serve), then column mapping renames
    // physical -> logical and hides dropped columns. Tombstone keys
    // are physical names, so the subtraction precedes the mapping.
    val subtracted =
      if (format != "parquet") base
      else RowOps.tombstoneKeys(spark, path) match {
        case None => base
        case Some(ts) =>
          // the key side broadcasts only while the debt is small —
          // unbounded unfolded tombstones degrade to a shuffled
          // anti-join, never a forced driver-sized broadcast
          base.join(
            SchemaTools.broadcastIfUnder(spark, ts,
              RowOps.tombstoneBytes(spark, path)),
            ts.columns.map(k => base(k) <=> ts(k)).reduce(_ && _),
            "left_anti")
      }
    val mapped =
      if (format != "parquet") subtracted
      else SchemaTools.readSchemaMarkerInfo(spark, path)
        .map(i => SchemaTools.applyRenames(subtracted, i.renames)
          .drop(i.dropped.toSeq: _*))
        .getOrElse(subtracted)
    val filtered = filterExpr.map { e =>
      statsPrunedScan(e).map(_.filter(e)).getOrElse(mapped.filter(e))
    }.getOrElse(mapped)
    pipeline(filtered)
  }

  /** The declarative half of file-level stats skipping: extract the
    * filter's per-column range bounds, intersect per-column candidates
    * from the `_stats` sidecar, and rebuild the scan over only those
    * files. None (= no pruning) for non-parquet formats, unified/
    * drifted datasets, untrusted manifests, or filters with no
    * extractable range — the caller falls back to the plain scan. */
  private def statsPrunedScan(predicate: String): Option[DataFrame] = {
    if (!listingPrunable) return None
    // range spans AND bloom point-lookup probes, one sidecar read
    FileStats.candidatesForPredicate(spark, path, predicate)
      .map(scanFiles)
  }

  /** Whether pruning this dataset's FILE LISTING is sound: parquet,
    * schema-homogeneous, unmapped (renames would make logical names
    * miss the manifest's physical spans), tombstone-free (a pruned
    * scan skips the merge-on-read subtraction and would serve deleted
    * rows), with a trusted manifest. [[DynamicPruning]] shares this
    * guard with the static predicate path. */
  private[lake] def listingPrunable: Boolean =
    format == "parquet" && !unifySchemas && !nanosAsLong &&
      FileStats.trusted(spark, path) &&
      !SchemaTools.readSchemaMarkerInfo(spark, path)
        .exists(i => !i.homogeneous || i.renames.nonEmpty ||
          i.dropped.nonEmpty) &&
      RowOps.tombstoneKeys(spark, path).isEmpty

  /** Scan exactly `files` under this dataset's schema + basePath; an
    * empty candidate set keeps the schema (zero-file proof, not an
    * error). Sound only under [[listingPrunable]]. */
  private[lake] def scanFiles(files: Seq[String]): DataFrame = {
    val reader = SchemaTools.parquetReader(spark, Seq(path))
    if (files.isEmpty) reader.parquet(path).limit(0)
    else reader.option("basePath", path).parquet(files: _*)
  }

  private def loadBase(): DataFrame = {
    format match {
      case "parquet" =>
        if (unifySchemas) SchemaTools.readUnified(spark, path)
        else SchemaTools.parquetReader(spark, Seq(path)).parquet(path)
      case "csv" =>
        spark.read
          .option("header", "true")
          .option("inferSchema", "true")
          .csv(path)
      case "json" => spark.read.json(path)
      case "orc" => spark.read.orc(path)
      case "ipc" =>
        // Arrow IPC / Feather v2. A single file keeps the reference's
        // eager driver-side contract; a DIRECTORY of IPC files decodes
        // one-task-per-file executor-side (ArrowIpc.readDistributed) —
        // the eager union was a driver bottleneck at many files.
        val files = SchemaTools.listDataFiles(spark, path).filter(f =>
          f.endsWith(".arrow") || f.endsWith(".feather") ||
            f.endsWith(".ipc"))
        if (files.size > 1) ArrowIpc.readDistributed(spark, files.sorted)
        else ArrowIpc.read(spark, files.headOption.getOrElse(path))
      case other =>
        throw new IllegalArgumentException(s"unsupported format: $other")
    }
  }

  /** Register for SQL, the Spark analog of DuckDB view registration
    * (`reader.py:236-255`). */
  def createView(name: String): DataFrame = {
    val df = load()
    df.createOrReplaceTempView(name)
    df
  }

  /** Eager materialization tier (`reader.py:292-353`): cache + temp view. */
  def materialize(name: String): DataFrame = {
    val df = load().cache()
    df.createOrReplaceTempView(name)
    df
  }
}

object LakeReader {
  /** Path-extension dispatch (`utils/table.py:81-89`), falling back to
    * directory-content inference (`timefly.py:91-103`) when the path has
    * no recognized extension: the majority extension of the files inside
    * the directory decides the format. */
  def fromPath(spark: SparkSession, path: String): LakeReader = {
    val fmt =
      if (path.endsWith(".csv")) "csv"
      else if (path.endsWith(".json")) "json"
      else if (path.endsWith(".parquet")) "parquet"
      else if (path.endsWith(".orc")) "orc"
      else SchemaTools.inferFormat(spark, path)
    LakeReader(spark, path, fmt)
  }
}
