package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** Small-file compaction: bin-pack every partition's data files to a
  * target byte size — the operational follow-up to continuous delta
  * appends, which land one small file per batch.
  *
  * Reference analog: repartitioning with a row-group/file-size knob
  * (pydala's `dataset/repartition.py`); Spark-first shape here is the
  * Delta-Lake-OPTIMIZE layout: per partition-leaf, `n =
  * ceil(bytes / targetBytes)` output files, leaf jobs submitted
  * CONCURRENTLY on a bounded pool (the Spark scheduler is thread-safe;
  * each leaf is one distributed job).
  *
  * The pack rule, shared with [[CommitLog.optimize]] ([[bins]],
  * [[packFrame]]): compaction merges WHOLE files and never splits one.
  * The leaf's files, in write order (modification time, then name), are
  * cut into `min(n, files)` contiguous runs of similar byte size; each
  * run is scanned and written by one task, so the pack is one write job
  * with no exchange, and each output file spans only its own run's keys
  * (a round-robin shuffle would deal every key to every file and defeat
  * min/max pruning). A leaf with at most `n` files is therefore already
  * right-sized and skipped.
  *
  * Compaction is content-preserving (a multiset no-op — oracle-gated by
  * q78) and additionally HEALS schema drift: when the dataset's
  * `_schema.json` marker says the files are heterogeneous (a prior
  * drifted delta append), every leaf is force-rewritten conformed to the
  * marker schema and the marker is restored to `homogeneous = true`, so
  * post-compaction readers take the plain multi-file scan again.
  *
  * The `_keys` sidecar survives compaction untouched: it stores distinct
  * key VALUES, not file references, and compaction changes neither.
  * Caveat (documented, like every secondary-index contract): TimeFly
  * manifest-only snapshots alias live data files by name; compact the
  * current generation before snapshotting, not after.
  *
  * Crash protocol: each leaf writes its packed replacement to a hidden
  * `_compact_tmp` sibling, persists a swap manifest (old + packed file
  * names) INTO the tmp dir, renames the packed files into the leaf, and
  * only then deletes the old files — strictly narrower than the
  * reference's cache-in-memory-then-delete (`repartition.py:72-84`).
  * At every crash point the leaf ∪ tmp holds at least one complete copy
  * of the data, and [[recoverTmp]] converges deterministically: no
  * manifest → the swap never started, the tmp is pure debris; manifest
  * present → finish the swap (rename the stragglers in, delete the
  * old-listed files still standing). TimeFly.vacuum routes every
  * `_compact_tmp` it sweeps through recoverTmp, so GC can never destroy
  * the only copy of a leaf.
  */
object Compact {

  private val SwapManifest = "_swap_manifest"

  /** Cut `inputs` — in order, each with its byte size — into
    * `min(n, inputs.size)` non-empty bins, each a contiguous run. Bin
    * `i` (from 0) starts once the running total reaches
    * `i * total / k`, or when the inputs left equal the bins left; so
    * no bin exceeds `total / k` plus the largest input. */
  private[lake] def bins[A](inputs: Seq[(A, Long)], n: Int): Seq[Seq[A]] = {
    require(n >= 1, "n must be >= 1")
    val k = math.min(n, inputs.size)
    val total = BigInt(inputs.map(_._2).sum)
    val out = scala.collection.mutable.ArrayBuffer[Vector[A]]()
    var acc = BigInt(0)
    inputs.zipWithIndex.foreach { case ((a, size), i) =>
      val open = out.size
      if (open == 0 || (open < k &&
          (acc * k >= total * open || inputs.size - i == k - open)))
        out += Vector.empty
      out(out.size - 1) = out.last :+ a
      acc += size
    }
    out.toSeq
  }

  /** One frame whose partition `i` is bin `i`, conformed to `schema`:
    * each bin's scan collapses to one task and the bins' row RDDs are
    * unioned, so writing the frame is one job with no exchange, one
    * file per bin (per partition value it holds, on a hive-partitioned
    * write). */
  private[lake] def packFrame(spark: SparkSession, bins: Seq[DataFrame],
      schema: StructType): DataFrame =
    GraftSqlBridge.frameOf(spark,
      spark.sparkContext.union(bins.map(b =>
        SchemaTools.conformTo(b, schema).coalesce(1).queryExecution.toRdd)),
      GraftSqlBridge.asNullable(schema))

  private[lake] def writeSwapManifest(
      fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path,
      oldNames: Seq[String],
      packedNames: Seq[String]
  ): Unit = {
    // tmp-then-rename so a torn manifest is never mistaken for a real
    // one (no manifest = swap not started = tmp is debris)
    val staging = new Path(tmp, SwapManifest + ".tmp")
    val out = fs.create(staging, true)
    try {
      val body = (oldNames.map("old\t" + _) ++
        packedNames.map("packed\t" + _)).mkString("\n")
      out.write(body.getBytes("UTF-8"))
    } finally out.close()
    fs.rename(staging, new Path(tmp, SwapManifest))
  }

  /** Complete or discard a leaf's `_compact_tmp` left by a crash — the
    * recovery half of the swap protocol (see object scaladoc). Safe to
    * call on a healthy tree: idempotent, and a tmp without a manifest
    * (crash during the packed write, before the leaf was touched) is
    * deleted outright since the leaf still owns all its data files. */
  def recoverTmp(
      fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path
  ): Unit = {
    if (!fs.exists(tmp)) return
    val leaf = tmp.getParent
    val mf = new Path(tmp, SwapManifest)
    if (fs.exists(mf)) {
      val in = fs.open(mf)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val entries = body.split('\n').filter(_.contains('\t'))
        .map { l => val Array(k, v) = l.split('\t'); (k, v) }
      val packed = entries.collect { case ("packed", n) => n }.toSet
      // 1. finish the renames: any packed file still in tmp moves in
      fs.listStatus(tmp).filter(s => s.isFile && packed(s.getPath.getName))
        .foreach(s => fs.rename(s.getPath, new Path(leaf, s.getPath.getName)))
      // 2. finish the deletes: old files not (improbably) sharing a
      // packed name that are still standing in the leaf
      entries.collect { case ("old", n) if !packed(n) => n }.foreach { n =>
        val p = new Path(leaf, n)
        if (fs.exists(p)) fs.delete(p, false)
      }
    } else {
      // No manifest: under this protocol the leaf still owns its data
      // files, so the tmp is debris. Belt-and-braces: if the leaf is
      // somehow EMPTY (foreign tooling, unknown crash), the tmp may be
      // the only copy — leave it for a human rather than GC it.
      val leafHasData = fs.exists(leaf) && fs.listStatus(leaf).exists(s =>
        s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".") && s.getLen > 0)
      if (!leafHasData) return
    }
    fs.delete(tmp, true)
  }

  final case class Stats(
      leaves: Int,
      rewritten: Int,
      filesBefore: Int,
      filesAfter: Int
  )

  /** Compact the dataset at `path`.
    *
    * @param targetBytes desired on-disk bytes per output file (bin size)
    * @param concurrency max leaf jobs in flight at once
    * @param zorderBy when non-empty, each leaf is rewritten CLUSTERED
    *   along the Morton curve of these columns ([[ZOrder.cluster]] —
    *   the `OPTIMIZE ... ZORDER BY` layout): range-partitioned and
    *   sorted by z-value so parquet min/max stats prune on EVERY listed
    *   column, not just a leading sort key. A layout request forces the
    *   rewrite even for leaves already at the right file count (file
    *   sizes cannot reveal row order).
    * @param rebuildStats rebuild the `_stats` file-skipping manifest
    *   after a rewriting compaction (compaction replaces files, so a
    *   standing manifest is necessarily invalidated; post-compaction —
    *   especially post-z-order — is exactly when the manifest pays, so
    *   this closes the invalidate-then-manually-rebuild gap in one
    *   call). No-op when nothing was rewritten and a trusted manifest
    *   is standing.
    */
  def run(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L << 20,
      compression: String = "zstd",
      concurrency: Int = 8,
      force: Boolean = false,
      zorderBy: Seq[String] = Nil,
      rebuildStats: Boolean = false
  ): Stats = {
    require(targetBytes > 0, "targetBytes must be positive")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // single-FILE datasets have no directory to pack into — nothing to do
    if (!fs.exists(root) || fs.getFileStatus(root).isFile)
      return Stats(0, 0, 0, 0)
    // manifest-only TimeFly snapshots pin files by PATH: packing them
    // away would strand the snapshot
    val pinned = TimeFly.pinnedFiles(spark, path)
    require(force || pinned.isEmpty,
      s"${pinned.size} data file(s) under $path are pinned by " +
        "manifest-only TimeFly snapshots; compaction would strand them. " +
        "Materialize or delete those snapshots first, or pass force=true")

    val marker = SchemaTools.readSchemaMarkerInfo(spark, path)
    val healDrift = marker.exists(!_.homogeneous)

    // partition leaves = directories holding data files directly; an
    // unpartitioned dataset is its own single leaf. Driver-side walk,
    // bounded by directory count like every partition enumeration.
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    def leaves(dir: Path): Seq[Path] = {
      val st = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      val here = st.exists(s => s.isFile && s.getLen > 0)
      val below = st.filter(_.isDirectory).flatMap(s => leaves(s.getPath))
      (if (here) Seq(dir) else Nil) ++ below
    }
    val leafDirs = leaves(root)

    // Conform target per leaf: the marker schema minus the hive
    // partition columns encoded in this leaf's path (they live in
    // directory names, never in the files).
    def leafConformSchema(leaf: Path): Option[StructType] =
      marker.map { m =>
        val rel = leaf.toString.stripPrefix(root.toString)
        val pathCols = rel.split('/').filter(_.contains('='))
          .map(_.split('=').head).toSet
        StructType(m.schema.fields.filterNot(f => pathCols.contains(f.name)))
      }

    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.max(1, math.min(concurrency, leafDirs.size max 1)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

    case class LeafResult(before: Int, after: Int, rewrote: Boolean)
    def compactLeaf(leaf: Path): LeafResult = {
      // a prior crashed compaction must be healed before this leaf's
      // file listing means anything
      recoverTmp(fs, new Path(leaf, "_compact_tmp"))
      // write order: the order the pack's contiguous runs follow
      val files = fs.listStatus(leaf)
        .filter(s => s.isFile && !hidden(s.getPath.getName))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(s => (s.getModificationTime, s.getPath.getName))
      if (files.isEmpty) return LeafResult(0, 0, rewrote = false)
      val bytes = files.map(_.getLen).sum
      val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      // no-split rule: at most n files is right-sized
      if (files.length <= n && !healDrift && zorderBy.isEmpty)
        return LeafResult(files.length, files.length, rewrote = false)

      val filePaths = files.map(_.getPath.toString).toSeq
      // A trusted homogeneous marker skips the per-file footer sweep —
      // the common case (every LakeWriter write maintains the marker),
      // and the sweep is the dominant driver-side cost on fragmented
      // leaves. Otherwise group by physical schema: the per-leaf read
      // tolerates intra-leaf heterogeneity (drifted appends land in the
      // same leaf as the original files).
      val homogeneous = marker.exists(_.homogeneous)
      val schemaOf: Map[String, StructType] =
        if (homogeneous) Map.empty
        else SchemaTools.fileSchemas(spark, filePaths).toMap
      val unified = leafConformSchema(leaf).getOrElse(
        SchemaTools.unifySchemas(schemaOf.values.toSeq.distinct))
      def read(paths: Seq[String]): DataFrame =
        if (homogeneous)
          SchemaTools.conformTo(
            SchemaTools.parquetReader(spark, paths).parquet(paths: _*),
            unified)
        else paths.groupBy(schemaOf).toSeq
          .map { case (sch, fls) =>
            SchemaTools.conformTo(
              spark.read.schema(sch).parquet(fls: _*), unified)
          }
          .reduce(_.unionByName(_))

      val tmp = new Path(leaf, "_compact_tmp")
      val packedDf =
        if (zorderBy.nonEmpty)
          // a wide column list must shrink per-column bits to keep the
          // interleaved z-value inside a long (bits * cols <= 62)
          ZOrder.cluster(read(filePaths), zorderBy, n,
            bits = math.max(1, math.min(16, 62 / zorderBy.size)))
        else packFrame(spark,
          bins(filePaths.zip(files.map(_.getLen)), n).map(read), unified)
      packedDf.write.mode("overwrite")
        .option("compression", compression).parquet(tmp.toString)
      val packed = fs.listStatus(tmp)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      // swap: manifest -> rename packed in -> delete old. From the
      // moment the manifest exists, recoverTmp can finish this exact
      // sequence after a crash at any point (see object scaladoc).
      val oldNames = files.map(_.getPath.getName).toSeq
      val packedNames = packed.map(_.getPath.getName).toSeq
      writeSwapManifest(fs, tmp, oldNames, packedNames)
      packed.foreach { s =>
        fs.rename(s.getPath, new Path(leaf, s.getPath.getName))
      }
      val packedSet = packedNames.toSet
      files.filterNot(s => packedSet(s.getPath.getName))
        .foreach(s => fs.delete(s.getPath, false))
      fs.delete(tmp, true)
      LeafResult(files.length, packed.length, rewrote = true)
    }

    val results =
      try Await.result(
        Future.sequence(leafDirs.map(l => Future(compactLeaf(l)))),
        Duration.Inf)
      finally pool.shutdown()

    // compaction replaces files, so a file-keyed stats manifest is
    // stale (rebuild it AFTER compaction — that is its natural moment)
    if (results.exists(_.rewrote)) FileStats.invalidate(spark, path)
    if (rebuildStats &&
        (results.exists(_.rewrote) || !FileStats.trusted(spark, path)))
      FileStats.build(spark, path)

    // every file now physically carries the marker schema (modulo its
    // leaf's partition columns) -> the dataset is homogeneous again
    if (healDrift)
      marker.foreach(m =>
        SchemaTools.writeSchemaMarker(spark, path, m.schema,
          homogeneous = true))

    Stats(
      leaves = leafDirs.size,
      rewritten = results.count(_.rewrote),
      filesBefore = results.map(_.before).sum,
      filesAfter = results.map(_.after).sum
    )
  }
}
