package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Write modes of the reference
  * (`/root/reference/src/pydala/dataset/writer.py:113-124`). */
sealed trait WriteMode
object WriteMode {
  /** Fail if the target already holds data (`SaveMode.ErrorIfExists`). */
  case object Raise extends WriteMode
  case object Overwrite extends WriteMode
  case object Append extends WriteMode

  /** Anti-diff append: write only rows not already present in the target,
    * optionally keyed on a column subset and/or bounded to the incoming
    * batch's `[min(ts), max(ts))` window
    * (`/root/reference/src/pydala/dataset/writer.py:185-256`). */
  final case class Delta(
      subset: Seq[String] = Nil,
      onColumn: Option[String] = None,
      castKeysToString: Boolean = false
  ) extends WriteMode

  /** Near-dup-aware delta append — "don't ingest what the lake already
    * effectively has". Composes the reference's delta write (exact-key
    * anti-join, `writer.py:185-256`) with the incremental ingest-vs-
    * corpus near-dup scorer (Dedup.incrementalJaccardPairs): a row is
    * appended only if its `subset` keys are absent from the target AND
    * its `textCol` is not an n-gram-Jaccard near-duplicate
    * (>= `threshold`) of any existing row. `subset` doubles as the
    * document identity for scoring; `onColumn` bounds the existing side
    * to the incoming batch's time window like [[Delta]]. The scorer is
    * strictly new×existing (d15 semantics) — batch-internal near-dups
    * are a corpus-pipeline concern — so the first write into an empty
    * target ingests as-is, and replaying a batch is a no-op: its
    * survivors are dropped by the exact-key diff, its near-dups by the
    * same still-present corpus rows that dropped them the first time. */
  final case class DeltaNearDup(
      subset: Seq[String],
      textCol: String,
      threshold: Double = 0.6,
      shingleN: Int = 3,
      onColumn: Option[String] = None,
      castKeysToString: Boolean = false
  ) extends WriteMode {
    require(subset.nonEmpty, "DeltaNearDup needs at least one key column")
    private[lake] def asDelta: Delta =
      Delta(subset, onColumn, castKeysToString)
  }

  /** The embedding-space sibling of [[DeltaNearDup]]: append a row only
    * if its keys are absent AND its `vecCol` embedding is not a cosine
    * near-duplicate (>= `threshold`) of any existing row — SemDeDup-at-
    * ingest. Candidates come from SRP-LSH buckets
    * (Similarity.incrementalSrpNearPairs): new×existing only, one keyed
    * shuffle, bucket count auto-scaling with the combined corpus
    * (`nBits = -1`). Same replay-idempotence argument as DeltaNearDup. */
  final case class DeltaSemantic(
      subset: Seq[String],
      vecCol: String,
      dim: Int,
      threshold: Double = 0.9,
      nBits: Int = -1,
      nTables: Int = 4,
      onColumn: Option[String] = None,
      castKeysToString: Boolean = false
  ) extends WriteMode {
    require(subset.nonEmpty, "DeltaSemantic needs at least one key column")
    private[lake] def asDelta: Delta =
      Delta(subset, onColumn, castKeysToString)
  }

  /** Leakage-gated delta append — "never ingest what the benchmarks can
    * test on". Exact-key anti-join like [[Delta]], then drop survivors
    * sharing ANY word `shingleN`-gram with the held-out dataset at
    * `heldOutPath` (Dedup.contaminationReport semantics: exact, no DF
    * cap, eval-side shingles broadcast — the corpus side never
    * shuffles). Unlike the corpus-scored gates, the screen applies even
    * on the FIRST write into an empty target: the benchmark exists
    * independently of the lake. The held-out set is referenced by path
    * (any LakeReader-dispatchable format), keeping the mode declarative
    * config like every other WriteMode. */
  final case class DeltaDecontam(
      subset: Seq[String],
      textCol: String,
      heldOutPath: String,
      shingleN: Int = 5,
      onColumn: Option[String] = None,
      castKeysToString: Boolean = false
  ) extends WriteMode {
    require(subset.nonEmpty, "DeltaDecontam needs at least one key column")
    private[lake] def asDelta: Delta =
      Delta(subset, onColumn, castKeysToString)
  }
}

/** Dataset writer: hive partitioning, zstd parquet, write modes,
  * transform hook, and time-interval batching.
  *
  * Spark-first re-expression of
  * `/root/reference/src/pydala/dataset/writer.py`. The reference's
  * LIMIT/OFFSET row-count batching (`writer.py:268-290`) disappears —
  * Spark tasks are the batches; file sizing is `maxRecordsPerFile` +
  * `repartition`. Its per-partition-tuple write loop (`writer.py:429-527`)
  * is `partitionBy`, one distributed job instead of a driver loop.
  */
final case class LakeWriter(
    spark: SparkSession,
    path: String,
    mode: WriteMode = WriteMode.Append,
    partitionBy: Seq[String] = Nil,
    compression: String = "zstd", // reference default, writer.py:33
    maxRecordsPerFile: Long = 0L,
    pipeline: Pipeline = Pipeline(),
    transform: DataFrame => DataFrame = identity, // writer.py:444-445
    // Fired once after a successful write (TimeFly wires dataset
    // view refresh here; see TimeFly.onDataChange).
    onWrite: () => Unit = () => (),
    // DeltaNearDup only: observes the gate's decision pairs
    // (id_new, id_existing, jaccard) DURING write() — the pair frame is
    // persisted, the sink's actions populate the cache, and the gate's
    // own anti-join then reuses it, so provenance (q84's incremental-CC
    // label fold) costs ZERO extra scoring passes. Fires only inside
    // write() (planDelta stays a pure audit), against the pre-write
    // lake state. For an on-demand pair set use [[nearDupPairs]].
    nearDupPairSink: Option[DataFrame => Unit] = None
) {

  // pair-frame cache handed to the sink; released after the write lands
  @transient private var sinkCached: Option[DataFrame] = None
  @transient private var sinkArmed: Boolean = false

  /** Identity unless a sink is configured AND a write is in flight:
    * persist the pair frame, let the sink consume it, hand the cached
    * frame back to the gate. */
  private def applyPairSink(pairs: DataFrame): DataFrame =
    nearDupPairSink match {
      case Some(sink) if sinkArmed =>
        val p = pairs.persist()
        sinkCached = Some(p)
        sink(p.select("id_new", "id_existing", "jaccard"))
        p
      case _ => pairs
    }

  def withMode(m: WriteMode): LakeWriter = copy(mode = m)
  def withPartitioning(cols: String*): LakeWriter = copy(partitionBy = cols)
  def withPipeline(p: Pipeline): LakeWriter = copy(pipeline = p)
  def withTransform(f: DataFrame => DataFrame): LakeWriter =
    copy(transform = f)

  private def fs = new Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def targetHasData: Boolean = {
    val p = new Path(path)
    fs.exists(p) && SchemaTools.listDataFiles(spark, path).nonEmpty
  }

  /** Rows of `df` not present in the existing dataset — the reference's
    * `get_tables_diff` (`utils/table.py:158-189`), one `left_anti` join
    * instead of its EXCEPT + semi-join dance. DuckDB EXCEPT is
    * set-distinct, so the full-row variant dedups `df` first.
    *
    * Both branches join with null-safe equality (`<=>`): DuckDB EXCEPT and
    * polars `struct.is_in` treat NULLs as equal, so a NULL-keyed row that
    * already exists must NOT be re-appended (a plain equi-join would never
    * match it, making delta appends non-idempotent for NULL-bearing data).
    *
    * The existing-keys side reads the `_keys/` sidecar when a trusted
    * one covers this mode's key config (see [[KeySidecar]]) — for
    * continuous ingest (streaming `foreachBatch` deltas) that turns the
    * per-batch existing-side scan from O(lake) into O(distinct keys). */
  private def deltaDiff(df: DataFrame, d: WriteMode.Delta): DataFrame = {
    if (!targetHasData) return df
    val (existing, fromPath, distinctKeys) = existingKeysSideTagged(d)
    deltaDiffAgainst(df, d, existing, windowSpanServe = fromPath,
      existingDistinct = distinctKeys)
  }

  /** The frame the exact-key anti-join reads: the key-manifest sidecar
    * when one is trusted and compatible, else the full dataset. */
  private def existingKeysSide(d: WriteMode.Delta): DataFrame =
    existingKeysSideTagged(d)._1

  /** [[existingKeysSide]] plus whether the frame is the RAW PATH SCAN
    * (no sidecar served) — the only case the delta window bound may be
    * re-issued as a span-pruned listing instead of a filter — and
    * whether its keys are distinct ([[KeySidecar.readFor]]). */
  private def existingKeysSideTagged(
      d: WriteMode.Delta): (DataFrame, Boolean, Boolean) =
    keySidecar.readFor(d) match {
      case Some((keys, distinctKeys)) => (keys, false, distinctKeys)
      case None => (SchemaTools.safeRead(spark, path), true, false)
    }

  private[lake] def keySidecar: KeySidecar = KeySidecar(spark, path)

  private[lake] def shingleSidecar: ShingleSidecar =
    ShingleSidecar(spark, path)

  /** The anti-diff itself, against an explicit existing-rows frame (path
    * datasets pass the parquet scan; bucketed tables pass the catalog
    * table so the existing side keeps its bucket distribution). With
    * `existingDistinct` (an exact-key sidecar) the key side skips its
    * lake-wide distinct(): right-side duplicates never change an anti-join. */
  private def deltaDiffAgainst(
      df: DataFrame,
      d: WriteMode.Delta,
      existing0: DataFrame,
      allowBroadcast: Boolean = true,
      windowSpanServe: Boolean = false,
      existingDistinct: Boolean = false
  ): DataFrame = {
    // Bucketed targets pass allowBroadcast = false: broadcasting the
    // existing side would discard its bucket distribution (and the
    // path-byte estimate doesn't apply to catalog tables).
    val maybeBroadcast: DataFrame => DataFrame =
      if (allowBroadcast) broadcastIfSmall else identity
    var existing = existing0
    // Bound the existing side to the incoming window (writer.py:227-240):
    // at scale this prunes the target scan to the affected partitions.
    // When the existing side IS the raw path scan and a trusted
    // `_stats` manifest covers the window column, the bound is served
    // as a span-pruned FILE LISTING ([[FileStats.readBand]]) — the
    // r8 Next #6 wiring: a time-banded delta append against a
    // time-clustered lake reads only the window's files, not every
    // footer the predicate would later discard row-groups from.
    d.onColumn.foreach { ts =>
      val Array(lo, hi) =
        df.agg(min(col(ts)), max(col(ts))).head().toSeq.toArray
      if (lo != null)
        existing =
          if (windowSpanServe && FileStats.trusted(spark, path))
            FileStats.readBand(spark, path, ts, lo, hi)
          else existing.filter(col(ts) >= lit(lo) && col(ts) <= lit(hi))
    }
    def antiNullSafe(
        left: DataFrame,
        right: DataFrame,
        on: Seq[String]
    ): DataFrame = {
      val l = left.as("__dl")
      val r = right.as("__dr")
      val cond = on
        .map(c => col(s"__dl.`$c`") <=> col(s"__dr.`$c`"))
        .reduce(_ && _)
      l.join(r, cond, "left_anti")
    }
    if (d.subset.nonEmpty) {
      val keyed =
        if (d.castKeysToString)
          (x: DataFrame) =>
            d.subset.foldLeft(x)((acc, c) =>
              acc.withColumn(s"__k_$c", col(c).cast("string")))
        else
          (x: DataFrame) =>
            d.subset.foldLeft(x)((acc, c) => acc.withColumn(s"__k_$c", col(c)))
      val keys = d.subset.map(c => s"__k_$c")
      val keySide = keyed(existing).select(keys.map(col): _*)
      antiNullSafe(
        keyed(df),
        maybeBroadcast(if (existingDistinct) keySide else keySide.distinct()),
        keys
      ).drop(keys: _*)
    } else {
      antiNullSafe(
        df.dropDuplicates(),
        maybeBroadcast(existing.select(df.columns.map(col): _*)),
        df.columns.toSeq
      )
    }
  }

  /** Broadcast the existing-keys side when the target dataset's on-disk
    * footprint is under `spark.sql.autoBroadcastJoinThreshold`; otherwise
    * leave the choice to AQE. File bytes are compressed (zstd), so this
    * under-estimates in-memory size — acceptable because the keys side is
    * a distinct projection of a strict column subset of those files. */
  private def broadcastIfSmall(df: DataFrame): DataFrame =
    SchemaTools.broadcastIfUnder(spark, df, targetBytes)

  /** Total on-disk bytes of the existing target dataset (driver-side file
    * status listing — bounded by file count, no data scan). Hidden
    * directories (`_keys` sidecar) are excluded like Spark's own file
    * index excludes them. */
  private def targetBytes: Long = {
    val p = new Path(path)
    if (!fs.exists(p)) return 0L
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    var total = 0L
    def walk(dir: Path): Unit =
      fs.listStatus(dir).foreach { s =>
        if (!hidden(s.getPath.getName)) {
          if (s.isDirectory) walk(s.getPath) else total += s.getLen
        }
      }
    walk(p)
    total
  }

  /** Rows of `df` surviving BOTH delta gates: the exact-key anti-join,
    * then the near-dup score against the (window-bounded) existing
    * corpus. Candidate generation is the d15 shingle-hash keyed join —
    * cost scales with the batch, never |corpus|²; the existing side's
    * shingles shuffle once keyed on the hash. */
  private def deltaNearDupDiff(
      df: DataFrame,
      d: WriteMode.DeltaNearDup
  ): DataFrame = {
    if (!targetHasData) return df
    shingleSidecar.readFor(d) match {
      // standing shingle index: the scorer never re-reads the corpus
      // text — together with `_keys` the WHOLE gate runs off sidecars
      case Some((shOld, rows)) =>
        val (ek, fromPath, _) = existingKeysSideTagged(d.asDelta)
        val exact = deltaDiffAgainst(df, d.asDelta, ek,
          windowSpanServe = fromPath)
        val idc = "__dnd_id"
        def keyed(x: DataFrame) =
          if (d.subset.size == 1) x.withColumn(idc, col(d.subset.head))
          else x.withColumn(idc, struct(d.subset.map(col): _*))
        // The exact-diff survivors feed the row count, the shingle
        // kernel, and the final dup anti-join — pin ONE batch-sized
        // materialization instead of re-running the anti-join chain
        // per consumer (also the single-materialization discipline:
        // every consumer sees the same rows by construction). The
        // pinned pre-pass still reads ONLY the `_keys` sidecar —
        // LakeWriterSpec captures it via a QueryExecutionListener.
        val newKeyed = keyed(exact).localCheckpoint(true)
        val pairFrame = graft.operators.Dedup
          .incrementalJaccardPairsFromShingles(
            newKeyed, shOld,
            // batch rows + corpus rows (from index metadata — no job)
            combinedRows = () => newKeyed.count() + rows,
            idc, d.textCol, d.shingleN, d.threshold)
        val dupIds = applyPairSink(pairFrame)
          .select(col("id_new").as(idc))
          .distinct()
        newKeyed.join(dupIds, Seq(idc), "left_anti").drop(idc)
      case None =>
        // the scorer needs text from the data files, but the exact-key
        // gate can still read the key sidecar
        deltaNearDupDiffAgainst(df, d, SchemaTools.safeRead(spark, path),
          existingExact = Some(existingKeysSide(d.asDelta)))
    }
  }

  private def deltaSemanticDiff(
      df: DataFrame,
      d: WriteMode.DeltaSemantic
  ): DataFrame = {
    if (!targetHasData) return df
    deltaSemanticDiffAgainst(df, d, SchemaTools.safeRead(spark, path),
      existingExact = Some(existingKeysSide(d.asDelta)))
  }

  /** The shared shape of both scored delta gates (text and embedding):
    * exact-key anti-join, window-bound the corpus side, score exact
    * survivors against it with the mode's incremental new×existing
    * scorer, and drop scored-duplicate ids. Bucketed tables pass the
    * catalog table for `existing`, like deltaDiffAgainst. */
  private def deltaScoredDiffAgainst(
      df: DataFrame,
      asDelta: WriteMode.Delta,
      existing: DataFrame,
      allowBroadcast: Boolean,
      score: (DataFrame, DataFrame, String) => DataFrame,
      existingExact: Option[DataFrame] = None,
      pairSink: DataFrame => DataFrame = identity
  ): DataFrame = {
    val exact = deltaDiffAgainst(df, asDelta,
      existingExact.getOrElse(existing), allowBroadcast)
    // Same window bound the exact diff applies internally: at scale this
    // prunes the corpus-side scan to the affected partitions.
    var bounded = existing
    asDelta.onColumn.foreach { ts =>
      val Array(lo, hi) =
        df.agg(min(col(ts)), max(col(ts))).head().toSeq.toArray
      if (lo != null)
        bounded = bounded.filter(col(ts) >= lit(lo) && col(ts) <= lit(hi))
    }
    // subset keys double as the scoring identity (struct for multi-key)
    val idc = "__dnd_id"
    def keyed(x: DataFrame) =
      if (asDelta.subset.size == 1) x.withColumn(idc, col(asDelta.subset.head))
      else x.withColumn(idc, struct(asDelta.subset.map(col): _*))
    // batch-sized pin: the scorer consumes the exact survivors through
    // several differently-keyed plans and the final anti-join reads
    // them again — one materialization, not one per consumer
    val newKeyed = keyed(exact).localCheckpoint(true)
    val dupIds = pairSink(score(newKeyed, keyed(bounded), idc))
      .select(col("id_new").as(idc))
      .distinct()
    newKeyed.join(dupIds, Seq(idc), "left_anti").drop(idc)
  }

  private def deltaNearDupDiffAgainst(
      df: DataFrame,
      d: WriteMode.DeltaNearDup,
      existing: DataFrame,
      allowBroadcast: Boolean = true,
      existingExact: Option[DataFrame] = None
  ): DataFrame =
    deltaScoredDiffAgainst(df, d.asDelta, existing, allowBroadcast,
      (nw, ex, idc) => graft.operators.Dedup
        .incrementalJaccardPairs(nw, ex, idc, d.textCol, d.shingleN,
          d.threshold),
      existingExact,
      pairSink = applyPairSink)

  private def deltaSemanticDiffAgainst(
      df: DataFrame,
      d: WriteMode.DeltaSemantic,
      existing: DataFrame,
      allowBroadcast: Boolean = true,
      existingExact: Option[DataFrame] = None
  ): DataFrame =
    deltaScoredDiffAgainst(df, d.asDelta, existing, allowBroadcast,
      (nw, ex, idc) => graft.operators.Similarity
        .incrementalSrpNearPairs(nw, ex, d.dim, idc, d.vecCol,
          d.threshold, d.nBits, d.nTables),
      existingExact)

  /** Exact-key diff, then the benchmark-leakage screen. Survivor docs
    * whose `textCol` shares any `shingleN`-gram with the held-out set
    * are dropped; the flagged-id frame is bounded by true leakage, so
    * the final anti-join broadcasts. */
  private def deltaDecontamDiff(
      df: DataFrame,
      d: WriteMode.DeltaDecontam
  ): DataFrame = {
    val exact = if (targetHasData) deltaDiff(df, d.asDelta) else df
    decontamScreen(exact, d)
  }

  /** The benchmark screen shared by the plain and bucketed decontam
    * paths: drop rows sharing any n-gram with the held-out dataset. */
  private def decontamScreen(
      exact: DataFrame,
      d: WriteMode.DeltaDecontam
  ): DataFrame = {
    val heldOut = LakeReader.fromPath(spark, d.heldOutPath).load()
    val idc = "__dd_id"
    def keyed(x: DataFrame) =
      if (d.subset.size == 1) x.withColumn(idc, col(d.subset.head))
      else x.withColumn(idc, struct(d.subset.map(col): _*))
    // the held-out side's ids are never surfaced — only its shingles
    // matter — so a constant key satisfies the report's id contract
    val bad = graft.operators.Dedup
      .contaminationReport(keyed(exact),
        heldOut.withColumn(idc, lit(0L)), idc, d.textCol, d.shingleN)
      .select(col(idc))
    keyed(exact).join(broadcast(bad), Seq(idc), "left_anti").drop(idc)
  }

  /** Schema-drift handling for Delta-family ingest (the reference's
    * enforce-on-write, `writer.py:529-571`, composed INTO the delta path
    * instead of left as a separate rewrite): when the incoming batch's
    * schema diverges from the target's unified on-disk schema, conform
    * BOTH sides to the promoted name-union (K10 `unifySchemas` ladder)
    * before diffing, and append the conformed batch. Detection is O(1)
    * against the `_schema.json` marker (footer-sweep fallback when
    * absent); the no-drift fast path adds zero work. The existing side
    * under drift reads via [[SchemaTools.readUnified]] — per-schema-group
    * scans, still pushdown-friendly. Old files keep their old schema
    * (readers unify; `rewriteUnified` / compaction conforms physically).
    * Hive-partitioned targets keep the strict path: partition columns
    * live in paths, not footers, so footer-based drift detection would
    * misfire — and partitioned ingest drift is a layout change, not a
    * cast. Returns (conformed batch, conformed existing) or None. */
  private def driftUnified(
      batch: DataFrame,
      target: StructType
  ): Option[(DataFrame, DataFrame)] = {
    if (SchemaTools.typeMap(batch.schema) == SchemaTools.typeMap(target))
      return None
    // A hive-partitioned TARGET keeps the strict path even when this
    // writer is unpartitioned: partition values live in directory names
    // and readUnified's file-level scan cannot recover them for the
    // existing side — a conform would null them out of the anti-join.
    if (SchemaTools.inferPartitioning(spark, path) == "hive") return None
    val unified = SchemaTools.unifySchemas(Seq(target, batch.schema))
    Some((
      SchemaTools.conformTo(batch, unified),
      SchemaTools.conformTo(SchemaTools.readUnified(spark, path), unified)
    ))
  }

  private def isDeltaFamily: Boolean = mode match {
    case _: WriteMode.Delta | _: WriteMode.DeltaNearDup |
        _: WriteMode.DeltaSemantic | _: WriteMode.DeltaDecontam => true
    case _ => false
  }

  private def detectDrift(
      prepared: DataFrame,
      preTarget: Option[SchemaTools.SchemaMarkerInfo]
  ): Option[(DataFrame, DataFrame)] =
    if (!isDeltaFamily || partitionBy.nonEmpty) None
    else preTarget.flatMap(t => driftUnified(prepared, t.schema))

  /** The DataFrame a Delta-mode write would append (audit hook: lets specs
    * and operators inspect the anti-join plan without writing). */
  def planDelta(df: DataFrame): DataFrame = {
    val prepared0 = transform(pipeline(df))
    val drift = detectDrift(
      prepared0,
      if (targetHasData) SchemaTools.datasetSchemaInfo(spark, path)
      else None)
    val prepared = drift.map(_._1).getOrElse(prepared0)
    mode match {
      case d: WriteMode.Delta =>
        drift.map { case (b, ex) => deltaDiffAgainst(b, d, ex) }
          .getOrElse(deltaDiff(prepared, d))
      case d: WriteMode.DeltaNearDup =>
        drift.map { case (b, ex) => deltaNearDupDiffAgainst(b, d, ex) }
          .getOrElse(deltaNearDupDiff(prepared, d))
      case d: WriteMode.DeltaSemantic =>
        drift.map { case (b, ex) => deltaSemanticDiffAgainst(b, d, ex) }
          .getOrElse(deltaSemanticDiff(prepared, d))
      case d: WriteMode.DeltaDecontam =>
        drift.map { case (b, ex) =>
          decontamScreen(deltaDiffAgainst(b, d.asDelta, ex), d)
        }.getOrElse(deltaDecontamDiff(prepared, d))
      case _ =>
        throw new IllegalStateException(
          "planDelta requires a Delta-family write mode")
    }
  }

  /** The near-dup decision pairs `(id_new, id_existing, jaccard)` of
    * `df`'s exact-gate survivors scored against the current lake — the
    * SAME pair set whose `id_new` side the DeltaNearDup gate drops,
    * served from the standing `_keys`/`_shingles` sidecars when
    * trusted (falling back to the data files exactly like the write
    * path). Ingest pipelines fold these into dedup provenance — e.g.
    * q84's streaming CC label table — without re-deriving the gate's
    * semantics. Empty when the target holds no data yet. */
  def nearDupPairs(df: DataFrame): DataFrame = {
    val d = mode match {
      case m: WriteMode.DeltaNearDup => m
      case _ => throw new IllegalStateException(
        "nearDupPairs requires a DeltaNearDup write mode")
    }
    val prepared = transform(pipeline(df))
    val idc = "__dnd_id"
    def keyed(x: DataFrame) =
      if (d.subset.size == 1) x.withColumn(idc, col(d.subset.head))
      else x.withColumn(idc, struct(d.subset.map(col): _*))
    if (!targetHasData) {
      val k = keyed(prepared.limit(0))
      return k.select(col(idc).as("id_new"), col(idc).as("id_existing"),
        lit(0.0).as("jaccard"))
    }
    shingleSidecar.readFor(d) match {
      case Some((shOld, rows)) =>
        val (ek, fromPath, _) = existingKeysSideTagged(d.asDelta)
        val exact = deltaDiffAgainst(prepared, d.asDelta, ek,
          windowSpanServe = fromPath)
        val newKeyed = keyed(exact)
        graft.operators.Dedup
          .incrementalJaccardPairsFromShingles(
            newKeyed, shOld,
            combinedRows = () => newKeyed.count() + rows,
            idc, d.textCol, d.shingleN, d.threshold)
          .select(col("id_new"), col("id_existing"), col("jaccard"))
      case None =>
        val existing = SchemaTools.safeRead(spark, path)
        val (ek, fromPath, _) = existingKeysSideTagged(d.asDelta)
        val exact = deltaDiffAgainst(prepared, d.asDelta, ek,
          windowSpanServe = fromPath)
        var bounded = existing
        d.asDelta.onColumn.foreach { ts =>
          val Array(lo, hi) =
            prepared.agg(min(col(ts)), max(col(ts))).head().toSeq.toArray
          if (lo != null)
            bounded = bounded
              .filter(col(ts) >= lit(lo) && col(ts) <= lit(hi))
        }
        graft.operators.Dedup
          .incrementalJaccardPairs(keyed(exact), keyed(bounded), idc,
            d.textCol, d.shingleN, d.threshold)
          .select(col("id_new"), col("id_existing"), col("jaccard"))
    }
  }

  def write(df: DataFrame): Unit = {
    sinkArmed = nearDupPairSink.isDefined
    try writeImpl(df)
    finally {
      sinkArmed = false
      sinkCached.foreach(_.unpersist())
      sinkCached = None
    }
  }

  private def writeImpl(df0: DataFrame): Unit = {
    // Column mapping: batches arrive under LOGICAL names; land them
    // under the frozen physical names so a rename never fragments the
    // files' physical schema, and strip logically-dropped columns —
    // the ordinary drift conform then lands them as nulls, keeping the
    // physical schema uniform (SchemaTools.renameColumn/dropColumn).
    val df = SchemaTools.readSchemaMarkerInfo(spark, path)
      .map(i => SchemaTools.unapplyRenames(df0, i.renames)
        .drop(i.dropped.toSeq: _*))
      .getOrElse(df0)
    val prepared0 = transform(pipeline(df))
    val hadData = targetHasData
    // Pre-write target schema: for Delta-family the drift check needs the
    // authoritative unified schema; for plain appends only the cheap
    // marker is consulted (an unmarkered pre-existing dataset keeps no
    // marker — writing one from the batch alone could claim a unified
    // schema the old files don't have).
    val preTarget: Option[SchemaTools.SchemaMarkerInfo] =
      if (!hadData) None
      else mode match {
        case _: WriteMode.Delta | _: WriteMode.DeltaNearDup |
            _: WriteMode.DeltaSemantic | _: WriteMode.DeltaDecontam =>
          SchemaTools.datasetSchemaInfo(spark, path)
        case _ => SchemaTools.readSchemaMarkerInfo(spark, path)
      }
    val drift = detectDrift(prepared0, preTarget)
    val prepared = drift.map(_._1).getOrElse(prepared0)
    val (toWrite, saveMode) = mode match {
      case WriteMode.Raise =>
        // Our emptiness check IS the raise semantics (the reference raises
        // only when the dataset holds data, writer.py:113-124). Spark's
        // ErrorIfExists would also fail on an existing-but-empty dir, so
        // write with Append once the check has passed.
        if (targetHasData)
          throw new IllegalStateException(
            s"dataset at $path already exists (mode=raise)")
        (prepared, SaveMode.Append)
      case WriteMode.Overwrite => (prepared, SaveMode.Overwrite)
      case WriteMode.Append => (prepared, SaveMode.Append)
      case d: WriteMode.Delta =>
        (drift.map { case (b, ex) => deltaDiffAgainst(b, d, ex) }
          .getOrElse(deltaDiff(prepared, d)), SaveMode.Append)
      case d: WriteMode.DeltaNearDup =>
        (drift.map { case (b, ex) => deltaNearDupDiffAgainst(b, d, ex) }
          .getOrElse(deltaNearDupDiff(prepared, d)), SaveMode.Append)
      case d: WriteMode.DeltaSemantic =>
        (drift.map { case (b, ex) => deltaSemanticDiffAgainst(b, d, ex) }
          .getOrElse(deltaSemanticDiff(prepared, d)), SaveMode.Append)
      case d: WriteMode.DeltaDecontam =>
        (drift.map { case (b, ex) =>
          decontamScreen(deltaDiffAgainst(b, d.asDelta, ex), d)
        }.getOrElse(deltaDecontamDiff(prepared, d)), SaveMode.Append)
    }
    // Key-manifest maintenance: Delta-family writes keep the `_keys/`
    // sidecar current (dirty marker dropped before data lands, trust
    // restored after the keys are appended); any other mode makes it
    // stale, so invalidate BEFORE writing — a crash mid-write must not
    // leave a trusted-but-wrong index behind.
    val deltaCfg: Option[WriteMode.Delta] = mode match {
      case d: WriteMode.Delta => Some(d)
      case d: WriteMode.DeltaNearDup => Some(d.asDelta)
      case d: WriteMode.DeltaSemantic => Some(d.asDelta)
      case d: WriteMode.DeltaDecontam => Some(d.asDelta)
      case _ => None
    }
    val sidecar = keySidecar
    val shSidecar = shingleSidecar
    val nearDupCfg: Option[WriteMode.DeltaNearDup] = mode match {
      case d: WriteMode.DeltaNearDup => Some(d)
      case _ => None
    }
    // Trust AT WRITE START, captured before markDirty: an untrusted
    // start means a previous write crashed between its data landing and
    // its sidecar update — update() must rebuild, not blind-append.
    val keysTrustedAtStart = sidecar.trusted
    val shTrustedAtStart = shSidecar.trusted
    // The file-stats manifest maps FILES to spans. Delta-family writes
    // only ADD files, so a standing manifest survives them: existing
    // spans stay valid and the new files' spans are appended after the
    // data lands (same distrust-then-reseal protocol as the key
    // sidecar — a crash leaves it untrusted, never wrong). Any other
    // mode, drift (types may promote), or an already-untrusted
    // manifest invalidates outright.
    val statsIncremental = deltaCfg.exists(_.subset.nonEmpty) &&
      drift.isEmpty && FileStats.trusted(spark, path)
    if (statsIncremental) FileStats.distrust(spark, path)
    else FileStats.invalidate(spark, path)
    // Drift writes invalidate like non-delta modes: key types may
    // promote, and the sidecar's parquet part files can't absorb a
    // type-changed append — the next non-drift delta rebuilds it from
    // the unified dataset.
    val before: Set[String] = deltaCfg match {
      case Some(d) if d.subset.nonEmpty && drift.isEmpty =>
        sidecar.markDirty()
        // the shingle index only stays current through DeltaNearDup
        // writes; any other delta mode appends text it never records
        if (nearDupCfg.isDefined) shSidecar.markDirty()
        else shSidecar.invalidate()
        SchemaTools.listDataFiles(spark, path).toSet
      case _ =>
        sidecar.invalidate()
        shSidecar.invalidate()
        Set.empty
    }
    // Observe the landed row count off the data write itself (the
    // shingle sidecar's meta needs it) — no standalone count job.
    val rowObs = nearDupCfg.filter(_ => drift.isEmpty)
      .map(_ => new org.apache.spark.sql.Observation())
    val observed = rowObs
      .map(o => toWrite.observe(o,
        count(lit(1)).as("graft_rows")))
      .getOrElse(toWrite)
    var w = observed.write
      .mode(saveMode)
      .option("compression", compression)
    if (maxRecordsPerFile > 0)
      w = w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
    if (partitionBy.nonEmpty) w = w.partitionBy(partitionBy: _*)
    w.parquet(path)
    deltaCfg.filter(_ => drift.isEmpty).filter(_.subset.nonEmpty).foreach { d =>
      val newFiles =
        SchemaTools.listDataFiles(spark, path).filterNot(before)
      // ONE declared-schema scan of exactly the new files feeds the
      // key, shingle, and stats maintenance: the schema is the frame
      // just written (no footer-sampling job), basePath keeps hive
      // partition columns resolvable on the explicit file list.
      val batchScan =
        if (newFiles.isEmpty) None
        else Some(spark.read.schema(toWrite.schema)
          .option("basePath", path).parquet(newFiles: _*))
      // A sidecar failure must not fail a completed data write: the
      // dirty marker already forces full-scan fallback + rebuild next
      // time, which is exactly the safe degradation.
      try sidecar.update(d, newFiles, keysTrustedAtStart,
        batchScan = batchScan)
      catch { case e: Exception =>
        System.err.println(s"[lake] key sidecar update failed " +
          s"(delta falls back to full scan): $e")
      }
      nearDupCfg.foreach { nd =>
        try shSidecar.update(nd, newFiles, shTrustedAtStart,
          batchScan = batchScan,
          batchRows = rowObs.flatMap(o =>
            scala.util.Try(o.get("graft_rows")
              .asInstanceOf[Long]).toOption))
        catch { case e: Exception =>
          System.err.println(s"[lake] shingle sidecar update failed " +
            s"(near-dup scoring falls back to the text scan): $e")
        }
      }
      if (statsIncremental) {
        try FileStats.appendFiles(spark, path, newFiles,
          batchScan = batchScan)
        catch { case e: Exception =>
          System.err.println(s"[lake] stats manifest update failed " +
            s"(range reads fall back to the full listing): $e")
          FileStats.invalidate(spark, path)
        }
      }
    }
    // `_schema.json` maintenance (written AFTER data, like the sidecar:
    // a crash leaves it absent/stale and readers fall back to footers).
    // Fresh/overwritten datasets take the batch schema; append-family
    // writes fold the batch into the known pre-write schema, and the
    // homogeneity flag survives only when the appended files physically
    // match it. An unmarkered pre-existing dataset under plain Append
    // stays unmarkered — claiming a unified schema from the batch alone
    // could contradict the old files.
    val markerInfo: Option[(StructType, Boolean)] = mode match {
      case WriteMode.Overwrite => Some((toWrite.schema, true))
      case _ if !hadData => Some((toWrite.schema, true))
      case _ =>
        preTarget.map { t =>
          val sameTypes =
            SchemaTools.typeMap(toWrite.schema) ==
              SchemaTools.typeMap(t.schema)
          (SchemaTools.unifySchemas(Seq(t.schema, toWrite.schema)),
            t.homogeneous && sameTypes)
        }
    }
    try markerInfo.foreach { case (sch, homo) =>
      SchemaTools.writeSchemaMarker(spark, path, sch, homo)
    }
    catch { case e: Exception =>
      System.err.println(s"[lake] schema marker update failed " +
        s"(drift detection falls back to footers): $e")
    }
    onWrite()
  }

  /** Bucketed write (Spark-native co-location, no reference analog):
    * hash-bucket on the join/aggregation keys so every later equi-join or
    * groupBy on those keys between co-bucketed tables runs WITHOUT a
    * shuffle — pre-partitioned storage, the single biggest lever for
    * repeated 100 TB joins. Bucketing metadata lives in the session
    * catalog (`saveAsTable`); optional per-bucket sort feeds sort-merge
    * joins without a sort step. */
  def writeBucketed(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil,
      location: Option[String] = None
  ): Unit = {
    require(bucketCols.nonEmpty, "bucketCols must be non-empty")
    val prepared = transform(pipeline(df))
    // Delta against a bucketed target anti-diffs through the CATALOG
    // table: when the delta keys are the bucket keys, the existing side
    // arrives pre-distributed — no shuffle of the (large) target, the
    // same zero-exchange property co-bucketed joins get.
    val (toWrite, saveMode) = mode match {
      case WriteMode.Overwrite => (prepared, SaveMode.Overwrite)
      case WriteMode.Raise => (prepared, SaveMode.ErrorIfExists)
      case d: WriteMode.Delta =>
        val diffed =
          if (spark.catalog.tableExists(table))
            deltaDiffAgainst(prepared, d, spark.table(table),
              allowBroadcast = false)
          else prepared
        (diffed, SaveMode.Append)
      case d: WriteMode.DeltaNearDup =>
        val diffed =
          if (spark.catalog.tableExists(table))
            deltaNearDupDiffAgainst(prepared, d, spark.table(table),
              allowBroadcast = false)
          else prepared
        (diffed, SaveMode.Append)
      case d: WriteMode.DeltaSemantic =>
        val diffed =
          if (spark.catalog.tableExists(table))
            deltaSemanticDiffAgainst(prepared, d, spark.table(table),
              allowBroadcast = false)
          else prepared
        (diffed, SaveMode.Append)
      case d: WriteMode.DeltaDecontam =>
        // the benchmark screen is target-independent, so it applies
        // whether or not the catalog table exists yet
        val exact =
          if (spark.catalog.tableExists(table))
            deltaDiffAgainst(prepared, d.asDelta, spark.table(table),
              allowBroadcast = false)
          else prepared
        (decontamScreen(exact, d), SaveMode.Append)
      case WriteMode.Append => (prepared, SaveMode.Append)
    }
    var w = toWrite.write
      .mode(saveMode)
      .format("parquet")
      .option("compression", compression)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    // explicit location -> external table (data outside the warehouse
    // dir; the bucket metadata still lives in the session catalog) —
    // a path a `_stats` manifest may be standing on
    location.foreach { p =>
      FileStats.invalidate(spark, p)
      w = w.option("path", p)
    }
    w.saveAsTable(table)
    onWrite()
  }

  /** Directory-flavor partitioned write (`writer.py:136-137`): path
    * segments are bare `<value>/` (no `key=` prefix), so Spark's hive
    * discovery can't read them — the reference's second partitioning
    * flavor. One distributed write per partition tuple; the driver-side
    * tuple enumeration is bounded by partition cardinality exactly like
    * the reference's loop (`writer.py:149-162`). Null-safe tuple match. */
  def writeDirectoryPartitioned(df: DataFrame, cols: Seq[String]): Unit = {
    val prepared = transform(pipeline(df))
    // the per-tuple sub-writes invalidate their OWN `_stats`; a manifest
    // standing at the dataset root would otherwise survive stale
    FileStats.invalidate(spark, path)
    val tuples = prepared.select(cols.map(col): _*).distinct().collect()
    tuples.foreach { row =>
      val sub = cols.indices.map(i => String.valueOf(row.get(i))).mkString("/")
      val cond = cols.zipWithIndex
        .map { case (c, i) => col(c) <=> lit(row.get(i)) }
        .reduce(_ && _)
      copy(path = s"$path/$sub", partitionBy = Nil,
        pipeline = Pipeline(), transform = identity, onWrite = () => ())
        .write(prepared.filter(cond).drop(cols: _*))
    }
    onWrite()
  }

  /** Time-interval batched write (`writer.py:292-385`): split the input
    * into `[w, w+interval)` windows from min to max of `tsCol`, applying
    * the write mode per window. Interval syntax: Spark INTERVAL literals
    * ("1 month", "7 days", ...). The driver loop is bounded by the window
    * count; each window's write is fully distributed. */
  def writeBatched(df: DataFrame, tsCol: String, interval: String): Unit = {
    val prepared = transform(pipeline(df))
    val row = prepared.agg(min(col(tsCol)), max(col(tsCol))).head()
    if (row.isNullAt(0)) return
    val lo = row.getTimestamp(0)
    val hi = row.getTimestamp(1)
    // Window bounds computed with Spark's own interval arithmetic so
    // month/year semantics match SQL exactly.
    import spark.implicits._
    val bounds: Seq[java.sql.Timestamp] = spark
      .sql(
        s"SELECT explode(sequence(TIMESTAMP '$lo', TIMESTAMP '$hi' + " +
          s"INTERVAL $interval, INTERVAL $interval)) AS w"
      )
      .as[java.sql.Timestamp]
      .collect()
      .toSeq
    bounds.sliding(2).foreach {
      case Seq(w0, w1) =>
        val slice =
          prepared.filter(col(tsCol) >= lit(w0) && col(tsCol) < lit(w1))
        copy(pipeline = Pipeline(), transform = identity, onWrite = () => ())
          .write(slice)
      case _ => ()
    }
    onWrite()
  }
}
