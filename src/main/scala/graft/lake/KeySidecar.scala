package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import com.fasterxml.jackson.databind.node.ObjectNode

/** Standing key manifest for Delta-family ingest: a `_keys/` parquet
  * sidecar under the dataset holding the distinct key tuples (plus the
  * `onColumn` bound column, when configured) of every row in the
  * dataset. The exact-key anti-join of [[WriteMode.Delta]] and the
  * scored gates reads it instead of the data files, so a continuous
  * ingest loop (streaming `foreachBatch` deltas, the q73/q76 shape)
  * pays O(distinct keys) per batch instead of re-scanning the lake.
  * The reference's delta write re-reads the target per call
  * (`/root/reference/src/pydala/dataset/writer.py:185-256`); this is
  * the standing-index alternative that survives 100 TB targets.
  *
  * Layout: parquet part files directly under `_keys/`, plus two JSON
  * one-liners — `_cols.json` (which columns the part files store;
  * durable metadata) and `_manifest.json` (the TRUST marker: present
  * iff the sidecar covers every data row).
  *
  * Trust protocol (crash-safe, no transactions needed): writers delete
  * `_manifest.json` BEFORE touching data and rewrite it AFTER the
  * sidecar is updated, so a crash between the two leaves the sidecar
  * untrusted. An untrusted / missing / incompatible sidecar never
  * affects results — readers fall back to the full data scan, and the
  * next completed Delta-family write rebuilds from it. Non-delta
  * writes through [[LakeWriter]] (append/overwrite) would make it
  * stale, so they invalidate it outright. Writers bypassing LakeWriter
  * entirely are out of scope — the standard secondary-index caveat.
  *
  * The underscore prefix keeps the sidecar invisible to Spark data
  * reads (hidden-path filter) and to `SchemaTools.listDataFiles`.
  */
final case class KeySidecar(spark: SparkSession, datasetPath: String) {

  private[lake] val dir = new Path(datasetPath, "_keys")
  private val manifestPath = new Path(dir, "_manifest.json")
  private val colsPath = new Path(dir, "_cols.json")

  private def fs =
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Key + bound columns a Delta mode needs from the sidecar. */
  private def colsFor(d: WriteMode.Delta): Seq[String] =
    d.subset ++ d.onColumn.filterNot(d.subset.contains)

  private def readCols(p: Path): Option[Seq[String]] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val cols = TimeFly.mapper.readTree(in).get("cols")
        if (cols == null || !cols.isArray) None
        else Some((0 until cols.size()).map(cols.get(_).asText()))
      } catch { case _: Exception => None }
      finally in.close()
    }

  /** The trusted key frame for `d` and whether it is distinct on
    * `d.subset` (the sidecar stores distinct tuples, so exactly when it
    * stores just `d.subset`); None when the sidecar is missing, dirty
    * (no trust marker), or doesn't store `d`'s columns. A superset
    * sidecar still serves a subset config: projecting fewer columns +
    * the reader's own distinct() yields exactly the data's key set. */
  def readFor(d: WriteMode.Delta): Option[(DataFrame, Boolean)] = {
    if (d.subset.isEmpty) return None // full-row diff needs all columns
    if (!fs.exists(manifestPath)) return None
    readCols(colsPath).flatMap { stored =>
      val need = colsFor(d)
      if (!need.forall(stored.contains)) None
      else
        scala.util.Try(
          SchemaTools.parquetReader(spark, Seq(dir.toString))
            .parquet(dir.toString).select(need.map(col): _*)
        ).toOption.map(_ -> (stored == d.subset))
    }
  }

  /** Trusted and non-empty (spec hook). */
  def trusted: Boolean = fs.exists(manifestPath) && hasParquet

  /** Drop trust before a write touches data. A crash after this point
    * leaves the sidecar ignored, never wrong. */
  def markDirty(): Unit =
    if (fs.exists(manifestPath)) fs.delete(manifestPath, false)

  /** Remove the sidecar entirely (non-delta writes make it stale). */
  def invalidate(): Unit =
    if (fs.exists(dir)) fs.delete(dir, true)

  private def writeJson(p: Path, cols: Seq[String]): Unit = {
    val node: ObjectNode = TimeFly.mapper.createObjectNode()
    val arr = node.putArray("cols")
    cols.foreach(arr.add)
    val out = fs.create(p, true)
    try out.write(TimeFly.mapper.writeValueAsBytes(node))
    finally out.close()
  }

  /** Bring the sidecar up to date after a completed Delta-family data
    * write, then restore trust. `newFiles` are the data files the write
    * just produced (before/after listing diff): when the sidecar's part
    * files already cover this key config, only the new files' keys are
    * appended — a column-pruned scan of the batch's own files, the step
    * that makes per-batch cost O(batch); otherwise the sidecar is
    * rebuilt from the full dataset (one-time bootstrap, no more than
    * the scan the delta diff itself just paid). Appends keep the STORED
    * column list so every part file shares one schema even when the
    * current mode needs fewer columns. */
  def update(d: WriteMode.Delta, newFiles: Seq[String],
      wasTrusted: Boolean = true,
      compactAfter: Int = 64,
      // the writer's already-planned scan of exactly `newFiles`
      // (schema declared, so no footer-sampling job) — the same frame
      // feeds the key, shingle, and stats maintenance in one pass
      batchScan: Option[DataFrame] = None): Unit = {
    if (d.subset.isEmpty) return
    val need = colsFor(d)
    val stored = readCols(colsPath)
    // appending onto an untrusted-at-write-start sidecar would seal in
    // whatever a previously CRASHED write failed to record (its data
    // files are in the lake, their keys never landed here) — an
    // untrusted start always rebuilds
    val appendable = wasTrusted &&
      stored.exists(s => need.forall(s.contains)) && hasParquet
    if (appendable) {
      if (newFiles.nonEmpty) {
        // basePath recovers hive partition columns when keys include one;
        // one file per batch — a micro-batch's distinct keys are small,
        // and per-batch file growth is what compaction has to absorb
        batchScan.getOrElse(
            spark.read.option("basePath", datasetPath)
              .parquet(newFiles: _*))
          .select(stored.get.map(col): _*)
          // one shuffle: the single partition already satisfies the
          // distinct's required distribution
          .repartition(1).distinct()
          .write.mode("append").parquet(dir.toString)
      }
      writeJson(manifestPath, stored.get)
    } else {
      // bootstrap / reshape: distinct keys of the full dataset as of now
      // (safeRead: a post-drift heterogeneous dataset must be unified,
      // not footer-sampled, or the rebuilt index could miss columns)
      val tmp = new Path(datasetPath, "_keys_tmp")
      SchemaTools.safeRead(spark, datasetPath)
        .select(need.map(col): _*).distinct()
        .write.mode("overwrite").parquet(tmp.toString)
      if (fs.exists(dir)) fs.delete(dir, true)
      fs.rename(tmp, dir)
      writeJson(colsPath, need)
      writeJson(manifestPath, need)
    }
    compact(compactAfter)
  }

  /** Append-per-batch grows one small file per write; past
    * `compactAfter` part files, fold the sidecar back to its distinct
    * key set. Crash-safe via the same dirty-marker protocol. */
  private def compact(compactAfter: Int): Unit = {
    if (partCount <= compactAfter) return
    readCols(colsPath).foreach { stored =>
      val tmp = new Path(datasetPath, "_keys_tmp")
      // output sized by the sidecar's on-disk bytes, ~64 MB per file —
      // a billion-key sidecar folds to a handful of right-sized files,
      // not shuffle.partitions-many shards; hashing on every stored
      // column is also the distinct's distribution, so one shuffle
      val bytes = fs.listStatus(dir).filter(_.isFile).map(_.getLen).sum
      val nOut = math.max(1L, bytes / (64L << 20)).toInt
      markDirty()
      SchemaTools.parquetReader(spark, Seq(dir.toString))
        .parquet(dir.toString)
        .repartition(nOut, stored.map(col): _*).distinct()
        .write.mode("overwrite").parquet(tmp.toString)
      fs.delete(dir, true)
      fs.rename(tmp, dir)
      writeJson(colsPath, stored)
      writeJson(manifestPath, stored)
    }
  }

  private def partCount: Int =
    if (!fs.exists(dir)) 0
    else fs.listStatus(dir).count(s =>
      s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))

  private def hasParquet: Boolean = partCount > 0
}
