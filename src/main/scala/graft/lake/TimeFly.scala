package graft.lake

import java.time.format.DateTimeFormatter
import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.hadoop.fs.{FileStatus, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import scala.jdk.CollectionConverters._

/** Time travel for a dataset directory — the reference's flagship
  * "TimeFly" feature (`/root/reference/src/pydala/dataset/timefly.py`).
  *
  * Layout (`timefly.py:130-156,245-310`):
  * {{{
  * <root>/_dataset.json       // metadata (TOML in the reference)
  * <root>/current/            // live data files
  * <root>/snapshot/<YYYYmmdd_HHMMSS>/
  * }}}
  *
  * Snapshot resolution (`timefly.py:337-352`): given time t, pick the
  * FIRST snapshot with id > t; if none, `current` ([[snapshotAt]]).
  * (Deliberately "next snapshot after t", not "latest before t" —
  * replicated exactly.)
  *
  * A snapshot is a FILE SET, either recorded or listed. The reference
  * snapshots by copying data (`timefly.py:301-304`); a copy snapshot's
  * set is the recursive listing of `snapshot/<id>/`. `addSnapshot(
  * manifestOnly = true)` records the live file list in the metadata
  * instead — the 100 TB path, where a snapshot is metadata, not a copy.
  * Every read (as-of, tag, readSince baseline, history, cloneTo)
  * resolves a snapshot through `snapshotFiles` and scans the set
  * through `scan`, so both kinds serve the same rows and columns.
  */
final class TimeFly(spark: SparkSession, root: String) {

  import TimeFly._

  private val rootPath = new Path(root)
  private def fs =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val metaPath = new Path(root, "_dataset.json")
  private val tomlPath = new Path(root, "_dataset.toml")

  def currentPath: String = new Path(root, "current").toString
  def snapshotPath(id: String): String =
    new Path(new Path(root, "snapshot"), id).toString

  // Listeners fired whenever this dataset's live data changes (writer
  // completion, snapshot restore). LakeManager wires view re-registration
  // here so `spark.sql` over a registered dataset never serves a stale
  // file listing — the reference re-registers on every materialization
  // (`dataset/reader.py:252`); we re-register on every mutation instead.
  private var dataChangeHooks: List[() => Unit] = Nil
  def onDataChange(f: () => Unit): TimeFly = {
    dataChangeHooks ::= f
    this
  }
  private[lake] def notifyDataChange(): Unit = dataChangeHooks.foreach(_())

  // ---- metadata codec -----------------------------------------------------
  // Dual format: `_dataset.toml` is the reference's own metadata file
  // (`timefly.py:50-51`), `_dataset.json` ours. Writes MIRROR both (a
  // pydala client can read a graft-written lake); reads prefer the JSON
  // and fall back to the TOML (a pydala-written lake is adopted in
  // place, including the legacy `[timefly.*]` layout of the reference's
  // `test.toml` fixture). When both files exist the JSON is
  // authoritative.

  def readMeta(): ObjectNode =
    if (fs.exists(metaPath)) {
      val in = fs.open(metaPath)
      try mapper.readTree(in).asInstanceOf[ObjectNode]
      finally in.close()
    } else {
      fromReferenceToml(Toml.parse(readText(fs, tomlPath)))
    }

  def writeMeta(node: JsonNode): Unit = {
    val out = fs.create(metaPath, true)
    try out.write(
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    finally out.close()
    val tout = fs.create(tomlPath, true)
    try tout.write(
      Toml.render(node.asInstanceOf[ObjectNode])
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally tout.close()
  }

  def exists(): Boolean = fs.exists(metaPath) || fs.exists(tomlPath)

  // ---- lifecycle ----------------------------------------------------------

  /** Create `_dataset.json` + `current/` + `snapshot/`
    * (`timefly.py:130-156`). Migrates loose data files at the root into
    * `current/` like `create_current` (`timefly.py:158-217`). */
  def init(name: String, description: String = ""): TimeFly = {
    fs.mkdirs(new Path(root, "current"))
    fs.mkdirs(new Path(root, "snapshot"))
    // adopt loose files at the root
    if (fs.exists(rootPath)) {
      fs.listStatus(rootPath)
        .filter(s => s.isFile && isDataFile(s))
        .foreach { s =>
          fs.rename(s.getPath, new Path(currentPath, s.getPath.getName))
        }
    }
    val node = mapper.createObjectNode()
    val ds = node.putObject("dataset")
    ds.put("name", name)
    ds.put("init", nowId())
    ds.put("description", description)
    ds.put("path", root)
    val cur = node.putObject("current")
    cur.put("created", nowId())
    cur.put("format", "parquet")
    val snap = node.putObject("snapshot")
    snap.putArray("available")
    snap.putArray("deleted")
    writeMeta(node)
    this
  }

  /** Record the latest write's config in the `current` section
    * (`timefly.py:219-237`; invoked after each dataset write like
    * `TimeFlyWriter.write_dataset`, `writer.py:646-687`). */
  def updateCurrent(kv: (String, String)*): Unit = {
    val node = readMeta()
    val cur = node.withObject("/current")
    kv.foreach { case (k, v) => cur.put(k, v) }
    cur.put("latest_update", nowId())
    writeMeta(node)
  }

  /** Copy `current/` to `snapshot/<id>/` and record it
    * (`timefly.py:245-310`). With `manifestOnly`, record the file list
    * instead of copying — the metadata-only variant for real scale. */
  def addSnapshot(manifestOnly: Boolean = false): String = {
    val node = readMeta()
    val snap = node.withObject("/snapshot")
    // id = wall clock at the reference's second resolution, bumped
    // PAST the newest recorded id (available OR deleted — a deleted
    // id must never be reused) when two snapshots land inside one
    // second. Ids stay strictly increasing in creation order — the
    // property every consumer (as-of rule, retention cutoffs,
    // keep-last) actually relies on — without writers having to
    // sleep through the clock between snapshots.
    val id = {
      val ids = strings(snap.path("available")) ++
        strings(snap.path("deleted"))
      val now = nowId()
      if (ids.isEmpty || ids.max < now) now else nextId(ids.max)
    }
    val entry = snap.putObject(id)
    entry.put("created", id)
    entry.put("manifest_only", manifestOnly)
    if (manifestOnly) {
      // a shallow clone's live view includes its borrowed base — the
      // manifest must capture the WHOLE view, not just local files
      val files = entry.putArray("files")
      liveFiles().foreach(files.add)
    } else {
      require(cloneBaseFiles().isEmpty,
        "copy snapshot on a shallow clone would silently drop the " +
          "borrowed base files — deepen() first, or snapshot with " +
          "manifestOnly = true")
      val dst = new Path(snapshotPath(id))
      fs.mkdirs(dst.getParent)
      FileUtil.copy(fs, new Path(currentPath), fs, dst, false, false,
        spark.sparkContext.hadoopConfiguration)
    }
    snap.withArray("available").add(id)
    writeMeta(node)
    id
  }

  /** Delete a snapshot's files and move its id available -> deleted
    * (`timefly.py:312-325`). */
  def deleteSnapshot(id: String): Unit = {
    val holding = tags().collect { case (n, s) if s == id => n }
    require(holding.isEmpty,
      s"snapshot $id is pinned by tag(s) ${holding.mkString(", ")} — " +
        "deleteTag first")
    fs.delete(new Path(snapshotPath(id)), true)
    val node = readMeta()
    val snap = node.withObject("/snapshot")
    val avail = snap.withArray("available")
    val kept = mapper.createArrayNode()
    avail.forEach(n => if (n.asText() != id) kept.add(n))
    snap.set("available", kept)
    snap.withArray("deleted").add(id)
    snap.remove(id)
    writeMeta(node)
  }

  /** Restore a copy snapshot into `current/` (`timefly.py:354-387`).
    * A manifest-only snapshot is refused: its files live in `current/`,
    * and restoring it in place would delete files that later manifests
    * may pin. */
  def loadSnapshot(id: String): Unit = {
    require(!readMeta().at(s"/snapshot/$id/manifest_only").asBoolean(false),
      s"snapshot $id is manifest-only and cannot be restored in place; " +
        "read it with read(asOf) or copy it out with cloneTo(asOf)")
    val src = new Path(snapshotPath(id))
    require(fs.exists(src), s"snapshot $id does not exist")
    fs.delete(new Path(currentPath), true)
    FileUtil.copy(fs, src, fs, new Path(currentPath), false, true,
      spark.sparkContext.hadoopConfiguration)
    updateCurrent("restored_from" -> id)
    notifyDataChange()
  }

  /** Garbage-collect the dataset's storage. Three kinds of debris:
    *
    *  1. snapshot DIRECTORIES with no `snapshot.available` meta entry —
    *     crash debris from an addSnapshot that copied files but never
    *     committed its meta (the meta is the source of truth: a dir
    *     without an entry is unreachable by as-of resolution), or dirs
    *     left behind by an external meta edit.
    *  2. stale working dirs under `current/`: `_compact_tmp` is routed
    *     through [[Compact.recoverTmp]] — which COMPLETES a crashed
    *     swap from its persisted manifest rather than destroying the
    *     packed copy — and the sidecar staging dirs (`_keys_tmp`,
    *     `_shingles_tmp`, `_stats_tmp`) are deleted outright: their
    *     writers stage-then-rename under a dirty/trust marker, so a
    *     surviving tmp is always debris, never the only copy.
    *  3. with `olderThan`, RETENTION expiry: available snapshots with
    *     id < the cutoff are deleted through [[deleteSnapshot]] (files
    *     removed, id moved to `deleted`) — except the NEWEST available
    *     snapshot, which always survives so the dataset never loses its
    *     last restore point to an aggressive cutoff, and TAGGED
    *     snapshots, which retention can never expire (the [[tag]]
    *     contract: releases outlive any cutoff until untagged).
    *
    * All enumeration is driver-side directory listing bounded by
    * snapshot/leaf counts, same as every other TimeFly meta operation.
    * `dryRun = true` reports what would be removed without touching
    * anything. */
  /** Count-based retention (keep the newest `n` snapshots) — the
    * policy most schedules actually want, expressed through the same
    * [[vacuum]] machinery so every protection rule (tags pinned,
    * newest always survives) applies identically: the cutoff is the
    * n-th-newest snapshot's id, and vacuum expires strictly-older
    * untagged ones. */
  def vacuumKeepLast(n: Int, dryRun: Boolean = false)
      : TimeFly.VacuumStats = {
    require(n >= 1, "must keep at least the newest snapshot")
    val avail = availableSnapshots()
    if (avail.size <= n) vacuum(None, dryRun)
    else vacuum(Some(avail(avail.size - n)), dryRun)
  }

  def vacuum(
      olderThan: Option[String] = None,
      dryRun: Boolean = false
  ): TimeFly.VacuumStats = {
    val snapRoot = new Path(root, "snapshot")
    val avail = availableSnapshots()
    val orphans =
      (if (fs.exists(snapRoot))
        fs.listStatus(snapRoot).toSeq.filter(_.isDirectory)
          .map(_.getPath).filterNot(p => avail.contains(p.getName))
      else Nil) ++ {
        // branch dirs with no meta entry: debris from a branch() that
        // made its dir but never committed, or an interrupted delete.
        // The meta is the source of truth for branches exactly as it
        // is for snapshots.
        val branchRoot = new Path(root, "branch")
        val known = branches().toSet
        if (fs.exists(branchRoot))
          fs.listStatus(branchRoot).toSeq.filter(_.isDirectory)
            .map(_.getPath).filterNot(p => known(p.getName))
        else Nil
      }
    val staleNames =
      Set("_compact_tmp", "_keys_tmp", "_shingles_tmp", "_stats_tmp")
    def tmps(p: Path): Seq[Path] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { s =>
        if (staleNames(s.getPath.getName)) Seq(s.getPath)
        else tmps(s.getPath)
      }
    val stale = tmps(new Path(currentPath))
    val expired = olderThan match {
      case None => Nil
      case Some(t) =>
        val cutoff = TimeFly.normalizeId(t)
        val tagged = tags().values.toSet
        avail.dropRight(1).filter(id => id < cutoff && !tagged(id))
    }
    if (!dryRun) {
      orphans.foreach(fs.delete(_, true))
      stale.foreach { p =>
        if (p.getName == "_compact_tmp") Compact.recoverTmp(fs, p)
        else fs.delete(p, true)
      }
      expired.foreach(deleteSnapshot)
    }
    TimeFly.VacuumStats(orphans.size, stale.size, expired)
  }

  def availableSnapshots(): Seq[String] =
    if (!exists()) Nil
    else strings(readMeta().at("/snapshot/available")).sorted

  /** Named refs over snapshots (Iceberg-style tags): an immutable
    * name → snapshot-id binding in the metadata. Tags make releases
    * addressable ("v1_train") without clients carrying snapshot ids,
    * and retention NEVER expires a tagged snapshot — [[vacuum]] skips
    * them and [[deleteSnapshot]] refuses while a tag points at the id.
    * Metadata-only, O(1) per op — nothing about tagging touches data. */
  def tag(name: String, snapshotId: String): Unit = {
    require(name.nonEmpty && !name.matches("\\d{8}_\\d{6}"),
      s"tag name must not look like a snapshot id: $name")
    val node = readMeta()
    require(node.withObject("/snapshot").path(snapshotId).isObject,
      s"snapshot $snapshotId does not exist")
    val t = node.withObject("/tags")
    require(!t.has(name),
      s"tag $name already exists (tags are immutable; deleteTag first)")
    t.put(name, snapshotId)
    writeMeta(node)
  }

  def tags(): Map[String, String] = {
    if (!exists()) return Map.empty
    val t = readMeta().path("tags")
    if (!t.isObject) return Map.empty
    val b = Map.newBuilder[String, String]
    t.fields.forEachRemaining(e => b += e.getKey -> e.getValue.asText())
    b.result()
  }

  def deleteTag(name: String): Unit = {
    val node = readMeta()
    val t = node.withObject("/tags")
    require(t.has(name), s"tag $name does not exist")
    t.remove(name)
    writeMeta(node)
  }

  /** Read the exact state a tag names — direct resolution, not the T6
    * as-of rule: a tag IS a snapshot pointer. */
  def readTag(name: String): DataFrame =
    scan(snapshotFiles(tags().getOrElse(name,
      throw new IllegalArgumentException(s"tag $name does not exist"))))

  /** Resolution rule T6 (`timefly.py:337-352`): the first snapshot with
    * id > t, or None — the live view — when there is none or no `asOf`. */
  def snapshotAt(asOf: Option[String]): Option[String] =
    asOf.flatMap { t =>
      val tid = normalizeId(t)
      availableSnapshots().find(_ > tid)
    }

  /** Read the dataset as of a point in time. The live (asOf = None)
    * view of a shallow clone is its borrowed base manifest plus the
    * local files — see [[cloneTo]]. */
  def read(asOf: Option[String] = None): DataFrame =
    scan(snapshotAt(asOf).fold(liveFiles())(snapshotFiles))

  /** The live view's files: a shallow clone's borrowed base plus
    * everything under `current/`. */
  private def liveFiles(): Seq[String] =
    cloneBaseFiles() ++ SchemaTools.listDataFiles(spark, currentPath)

  /** The file set snapshot `id` serves: a manifest-only snapshot's
    * recorded list, or the recursive listing of a copy snapshot's
    * directory. A snapshot with neither is refused. */
  private def snapshotFiles(id: String): Seq[String] = {
    val entry = readMeta().at(s"/snapshot/$id")
    if (entry.path("manifest_only").asBoolean(false))
      strings(entry.path("files"))
    else {
      require(fs.exists(new Path(snapshotPath(id))),
        s"snapshot $id does not exist")
      SchemaTools.listDataFiles(spark, snapshotPath(id))
    }
  }

  /** The one way a file set becomes a DataFrame. The schema comes from
    * the files' footers (no inference job when they agree). Files are
    * grouped by the directory their hive partition path hangs from, and
    * each group scans with that directory as `basePath`, so partition
    * columns survive explicit file lists; a view spanning several roots
    * (a shallow clone's base plus its local files, a branch) is the
    * union of its groups. An empty set is a zero-row frame with the
    * live schema. */
  private def scan(files: Seq[String]): DataFrame =
    if (files.isEmpty) spark.read.parquet(currentPath).limit(0)
    else files.groupBy(f => tableRoot(new Path(f)).toString).toSeq
      .sortBy(_._1)
      .map { case (base, group) =>
        SchemaTools.parquetReader(spark, group).option("basePath", base)
          .parquet(group: _*)
      }
      .reduce(_.unionByName(_, allowMissingColumns = true))

  /** Data files added to `current/` since snapshot `sinceId` — the
    * file-set diff between now and the snapshot's set
    * ([[snapshotFiles]]), matched by file name. Under append-family
    * writes (plain appends, every Delta mode) new rows land ONLY in new
    * files, so this set is exactly the incremental increment; that is
    * the contract. Rewrites (overwrite, compaction, RowOps) re-home
    * existing rows into new files and break increment semantics —
    * consumers re-baseline with a fresh snapshot after those, the same
    * rule every file-diff CDC (Iceberg incremental append scan)
    * documents. Both sides are driver-side listings bounded by file
    * count. */
  def changedFilesSince(sinceId: String): Seq[String] = {
    val baseline = snapshotFiles(sinceId).map(new Path(_).getName).toSet
    SchemaTools.listDataFiles(spark, currentPath)
      .filterNot(f => baseline.contains(new Path(f).getName))
  }

  /** Incremental consumption: ONLY the rows added since `sinceId` —
    * a scan over [[changedFilesSince]], never the whole dataset. An
    * empty increment returns an empty frame with the current schema. */
  def readSince(sinceId: String): DataFrame =
    scan(changedFilesSince(sinceId))

  /** Pipeline reader over the live `current/` directory; as-of reads go
    * through [[read]]. */
  def reader(): LakeReader = LakeReader(spark, currentPath)

  def writer(mode: WriteMode = WriteMode.Append): LakeWriter =
    LakeWriter(spark, currentPath, mode, onWrite = () => notifyDataChange())

  // ---- branches (writable refs) -------------------------------------------
  // Iceberg/Nessie-style branches: a named line of development whose
  // creation copies NOTHING. The branch records a manifest of
  // `current/`'s data files at branch time (its base) and owns a local
  // append directory `branch/<name>/`; a branch read is base ∪ local.
  // Branch writes are APPEND-family only — the base belongs to main, so
  // a branch can add rows but never rewrite main's files (rewriting
  // semantics on a branch = clone the dataset instead). Publishing is
  // `fastForward`: if main has not diverged from the branch's base, the
  // branch's local files MOVE into `current/` — metadata-scale renames,
  // no data copied at any point in the branch lifecycle.

  def branchPath(name: String): String =
    new Path(new Path(root, "branch"), name).toString

  /** Create branch `name` from the live state: record the base manifest
    * (zero-copy — the branch shares main's files) and its empty local
    * dir. */
  def branch(name: String): Unit = {
    require(name.nonEmpty && !name.matches("\\d{8}_\\d{6}"),
      s"branch name must not look like a snapshot id: $name")
    val node = readMeta()
    val b = node.withObject("/branches")
    require(!b.has(name), s"branch $name already exists")
    val entry = b.putObject(name)
    entry.put("created", nowId())
    val files = entry.putArray("base_files")
    SchemaTools.listDataFiles(spark, currentPath).foreach(files.add)
    fs.mkdirs(new Path(branchPath(name)))
    writeMeta(node)
  }

  def branches(): Seq[String] = {
    if (!exists()) return Nil
    val b = readMeta().path("branches")
    if (!b.isObject) return Nil
    val buf = scala.collection.mutable.ArrayBuffer[String]()
    b.fieldNames.forEachRemaining(buf += _)
    buf.toSeq.sorted
  }

  private def branchBaseFiles(name: String): Seq[String] = {
    val entry = readMeta().path("branches").path(name)
    require(entry.isObject, s"branch $name does not exist")
    strings(entry.path("base_files"))
  }

  /** The branch's view: its base manifest plus everything appended to
    * its local dir. */
  def readBranch(name: String): DataFrame =
    scan(branchBaseFiles(name) ++
      SchemaTools.listDataFiles(spark, branchPath(name)))

  /** Appending writer for the branch's local dir. Append-family by
    * contract: the base files belong to main. */
  def branchWriter(name: String): LakeWriter = {
    branchBaseFiles(name) // existence check
    LakeWriter(spark, branchPath(name), WriteMode.Append)
  }

  /** Publish the branch into main. Precondition (the FAST-FORWARD rule):
    * main's file set must still equal the branch's base — a diverged
    * main refuses, because merging divergent lines needs a row-level
    * strategy (RowOps), not a ref move. On success the branch's local
    * files are RENAMED into `current/` (no copy; Spark task-file names
    * are UUID-unique so collisions cannot occur) and the branch is
    * dropped.
    *
    * Crash protocol (the Compact swap-manifest pattern): the set of
    * names this publish moves is persisted as `_publish.json` in the
    * branch dir BEFORE the first rename. A re-run after any crash
    * point reads the manifest, counts already-moved names as
    * branch-owned rather than foreign divergence, and finishes the
    * remaining renames — every step idempotent. */
  def fastForward(name: String): Unit = {
    val bp = new Path(branchPath(name))
    val manifestPath = new Path(bp, "_publish.json")
    val local = SchemaTools.listDataFiles(spark, branchPath(name))
    val moving: Set[String] =
      if (fs.exists(manifestPath)) {
        strings(mapper.readTree(readText(fs, manifestPath)).path("moving"))
          .toSet
      } else {
        val n = mapper.createObjectNode()
        val arr = n.putArray("moving")
        local.map(f => new Path(f).getName).foreach(arr.add)
        val out = fs.create(manifestPath, true)
        try out.write(mapper.writeValueAsBytes(n)) finally out.close()
        local.map(f => new Path(f).getName).toSet
      }
    val base = branchBaseFiles(name).map(f => new Path(f).getName).toSet
    val cur = SchemaTools.listDataFiles(spark, currentPath)
      .map(f => new Path(f).getName).toSet
    val foreign = cur -- base -- moving
    if (foreign.nonEmpty) {
      // refuse; back the staged manifest out only if no file has moved
      // yet — after a half-done move it is the only record of which
      // current files belong to the branch, so it must survive for the
      // next re-run (or manual repair)
      if ((cur & moving).isEmpty) fs.delete(manifestPath, false)
      throw new IllegalArgumentException(
        s"main diverged since branch $name was created " +
          s"(${foreign.size} foreign file(s)); fast-forward refused")
    }
    local.foreach { f =>
      val p = new Path(f)
      fs.rename(p, new Path(currentPath, p.getName))
    }
    val node = readMeta()
    node.withObject("/branches").remove(name)
    writeMeta(node)
    fs.delete(bp, true)
    notifyDataChange()
  }

  /** Merge a DIVERGED branch into main by rows — the resolution path
    * for exactly the state [[fastForward]] refuses: when main moved on
    * after the branch was cut, a ref move would drop main's new rows,
    * so the branch's local rows land as a keyed copy-on-write UPSERT
    * instead (RowOps — branch wins on key conflicts, the merge
    * strategy a caller opts into by naming the keys). Costs what the
    * upsert costs: only main's files holding conflicting keys rewrite.
    * The branch drops after landing. */
  def mergeBranch(name: String, keys: Seq[String]): Unit = {
    val local = SchemaTools.listDataFiles(spark, branchPath(name))
    branchBaseFiles(name) // existence check
    if (local.nonEmpty)
      RowOps.upsert(spark, currentPath,
        spark.read.parquet(local: _*), keys)
    deleteBranch(name)
    notifyDataChange()
  }

  /** Drop a branch and its local files; the base manifest only ever
    * pointed at main's files, so nothing of main is touched. */
  def deleteBranch(name: String): Unit = {
    val node = readMeta()
    val b = node.withObject("/branches")
    require(b.has(name), s"branch $name does not exist")
    b.remove(name)
    writeMeta(node)
    fs.delete(new Path(branchPath(name)), true)
  }

  // ---- metadata tables ----------------------------------------------------

  /** The dataset's history as a queryable DataFrame (Iceberg
    * `snapshots` / Delta DESCRIBE HISTORY): one row per available
    * snapshot in id order plus the live state, with the row count each
    * ref serves. `ord` is the position in the timeline (stable across
    * replays, unlike wall-clock snapshot ids); counting is one
    * column-pruned parquet count per ref — metadata-scale work, the
    * same job `spark.read.count` runs for any footer-stat count. */
  def history(): DataFrame = {
    import spark.implicits._
    def count(files: Seq[String]) =
      if (files.isEmpty) 0L else scan(files).count()
    val snapMeta = readMeta().withObject("/snapshot")
    val ids = availableSnapshots()
    val rows = ids.zipWithIndex.map { case (id, i) =>
      (i.toLong + 1L, false,
        snapMeta.path(id).path("manifest_only").asBoolean(false),
        count(snapshotFiles(id)))
    } :+ ((ids.size.toLong + 1L, true, false, count(liveFiles())))
    rows.toDF("ord", "is_current", "manifest_only", "n_rows")
  }

  // ---- shallow clone ------------------------------------------------------
  // Delta-style CLONE: a new dataset root whose live view starts as a
  // MANIFEST of the source's files — creation copies nothing, the clone
  // and the source share storage until either writes. Clone-local
  // writes append under the clone's own `current/`; the source never
  // sees them, and source appends never reach the clone (its base is
  // the file list frozen at clone time). The shared-storage caveat is
  // Delta's own: vacuuming/rewriting the SOURCE can invalidate a
  // shallow clone's base — `deepen()` converts to a deep clone (copies
  // the base in, clears the manifest) when the clone must outlive the
  // source's retention.

  private def cloneBaseFiles(): Seq[String] =
    if (!exists()) Nil
    else strings(readMeta().at("/clone/base_files"))

  /** Create a shallow clone of this dataset (live state, or an `asOf`
    * snapshot view) at `dstRoot`. Returns the clone's TimeFly. */
  def cloneTo(dstRoot: String, name: String,
      asOf: Option[String] = None): TimeFly = {
    val dst = TimeFly(spark, dstRoot)
    require(!dst.exists(), s"$dstRoot already holds a dataset")
    dst.init(name)
    // the clone's base is exactly the file set read(asOf) serves
    val baseFiles = snapshotAt(asOf).fold(liveFiles())(snapshotFiles)
    val node = dst.readMeta()
    val c = node.withObject("/clone")
    c.put("from", root)
    c.put("cloned", nowId())
    val files = c.putArray("base_files")
    baseFiles.foreach(files.add)
    dst.writeMeta(node)
    dst
  }

  /** Convert a shallow clone into a deep one: copy the borrowed base
    * files into `current/` and clear the manifest. Idempotent under
    * crash-rerun — copies preserve the source file name (UUID-unique),
    * so a re-run overwrites its own partial work and the meta clears
    * only after every byte is local. */
  def deepen(): Unit = {
    val base = cloneBaseFiles()
    if (base.isEmpty) return
    base.foreach { f =>
      val src = new Path(f)
      FileUtil.copy(fs, src, fs, new Path(currentPath, src.getName),
        false, true, spark.sparkContext.hadoopConfiguration)
    }
    val node = readMeta()
    node.remove("clone")
    writeMeta(node)
    notifyDataChange()
  }
}

object TimeFly {
  final case class VacuumStats(
      orphanDirs: Int,
      tmpDirs: Int,
      expired: Seq[String]
  )

  private[lake] val mapper = new ObjectMapper()
  private val idFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss")

  /** Data files pinned by manifest-only snapshots of the TimeFly dataset
    * whose `current/` directory is `dataDir` — empty when `dataDir` is
    * not a TimeFly current dir or the dataset has no such snapshots.
    * Manifest-only snapshots record file PATHS, not copies, so any
    * rewrite that removes a pinned file (compaction, repartition) would
    * strand the snapshot; [[Compact]] consults this and refuses. */
  def pinnedFiles(spark: SparkSession, dataDir: String): Set[String] = {
    val p = new Path(dataDir)
    if (p.getName != "current" || p.getParent == null) return Set.empty
    val tf = new TimeFly(spark, p.getParent.toString)
    if (!tf.exists()) return Set.empty
    tf.readMeta().path("snapshot").elements().asScala
      .filter(_.path("manifest_only").asBoolean(false))
      .flatMap(v => strings(v.path("files"))).toSet
  }

  /** A JSON string array (`files`, `base_files`, snapshot id lists) as
    * a Seq; empty when the node is absent or not an array. */
  private def strings(node: JsonNode): Seq[String] =
    if (node.isArray) node.elements().asScala.map(_.asText()).toSeq
    else Nil

  /** The directory a data file's hive partition path hangs from: its
    * parent with every trailing `name=value` directory stripped. */
  private def tableRoot(file: Path): Path = {
    var d = file.getParent
    while (d.getParent != null && d.getName.contains('=')) d = d.getParent
    d
  }

  private[lake] def readText(
      fs: org.apache.hadoop.fs.FileSystem,
      p: Path
  ): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }

  /** Normalize a reference-written `_dataset.toml` into our internal
    * layout. The reference's CURRENT code writes the same top-level
    * sections we use (`timefly.py:132-147,245-310`: dataset / current /
    * snapshot{available,deleted,<id>}) — passed through unchanged. Its
    * LEGACY fixture layout (`/root/reference/test.toml:1-24`) nests
    * everything under `[timefly.*]` with a `[timefly.history]` table
    * whose `available` list includes the literal "current" — translated:
    * `timefly.current` → `current`, `timefly.history.available` minus
    * "current" → `snapshot.available`, `timefly.history.deleted` →
    * `snapshot.deleted`, each `timefly.<id>` → `snapshot.<id>`. */
  private[lake] def fromReferenceToml(n: ObjectNode): ObjectNode = {
    if (!n.has("timefly")) return n
    val out = mapper.createObjectNode()
    if (n.has("dataset")) out.set[JsonNode]("dataset", n.get("dataset"))
    val snap = out.putObject("snapshot")
    val avail = snap.putArray("available")
    val deleted = snap.putArray("deleted")
    n.withObject("/timefly").fields.forEachRemaining { e =>
      e.getKey match {
        case "current" => out.set[JsonNode]("current", e.getValue)
        case "history" =>
          val h = e.getValue
          if (h.has("available"))
            h.get("available").forEach { x =>
              if (x.asText() != "current") avail.add(x.asText())
            }
          if (h.has("deleted"))
            h.get("deleted").forEach(x => deleted.add(x.asText()))
        case id => snap.set[JsonNode](id, e.getValue)
      }
    }
    out
  }

  /** Snapshot id format `%Y%m%d_%H%M%S` (`timefly.py:72-78`). */
  def nowId(): String =
    LocalDateTime.ofInstant(Instant.now(), ZoneOffset.UTC).format(idFmt)

  /** The id one second after `id` — the collision bump
    * [[TimeFly.addSnapshot]] applies when the wall clock has not yet
    * passed the newest recorded snapshot. */
  def nextId(id: String): String =
    LocalDateTime.parse(id, idFmt).plusSeconds(1).format(idFmt)

  /** Accept either a snapshot id or an ISO timestamp as the as-of point. */
  def normalizeId(t: String): String =
    if (t.matches("\\d{8}_\\d{6}")) t
    else LocalDateTime.parse(t.replace(' ', 'T')).format(idFmt)

  private def isDataFile(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  def apply(spark: SparkSession, root: String): TimeFly =
    new TimeFly(spark, root)
}
